"""The analysts' read phase of ``etl_daily``: a seeded, shuffled sequence
over a fixed mix of star-schema read queries from
``__spark_entry__.queries()``, each materialized to the ``noop`` sink.

Set-up runs every query of the mix once through ``toPandas`` (first-rep
codegen and Python workers); those frames are then checked against the
query's ``oracle_sql()`` entry with ``testing.compare.compare``, once
per run and outside every timed region. The measured sequence holds
each query ``reps`` times in a seed-shuffled order.
"""

from __future__ import annotations

import random
import time

import inputs
import __spark_entry__ as entry
from building_coffee_commodity_trading_data_warehouse_spark.testing.compare import compare

# star and role-played dimension joins and top-k. Each query's cold
# first pass is set-up cost, so the mix holds three queries to fit the
# run budget
MIX = ("j_star_join", "j_roleplay_nation", "s_topk_per_group")
SF = 0.01
# measured seconds per repetition of the whole mix (4-core box): 10 s
# gives one repetition
SECONDS_PER_REP = 10


class _Collected:
    """A query result already collected to pandas; ``compare`` only
    needs ``toPandas()``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class ReadMix:
    def __init__(self, spark, rec, seed: int, seconds: int):
        self.spark, self.rec, self.seed = spark, rec, seed
        self.reps = max(1, round(seconds / SECONDS_PER_REP))
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.collected = {}
        self.warm_s = {}

    def generate(self, out_dir: str) -> None:
        inputs.warehouse(out_dir, self.seed, SF)
        self.sf_dir = out_dir

    def warm(self) -> None:
        for name in MIX:
            t = time.perf_counter()
            self.collected[name] = self.queries[name](self.spark, self.sf_dir).toPandas()
            self.warm_s[name] = time.perf_counter() - t

    def measure(self) -> None:
        seq = [q for q in MIX for _ in range(self.reps)]
        random.Random(self.seed).shuffle(seq)
        rec = self.rec
        t0 = time.perf_counter()
        for name in seq:
            with rec.op("query", name):
                with rec.layer("query.build"):
                    df = self.queries[name](self.spark, self.sf_dir)
                with rec.layer("query.exec"):
                    df.write.format("noop").mode("overwrite").save()
                del df
        self.total_s = time.perf_counter() - t0

    def check(self) -> None:
        for name in MIX:
            try:
                rep = compare(_Collected(self.collected.pop(name)), self.oracles[name], self.sf_dir)
            except Exception as e:  # a broken oracle run fails the check, not the run
                rep = {"ok": False, "detail": repr(e)}
            self.rec.check(rep["ok"], f"{name}: {rep['detail']}")

    def detail(self) -> dict:
        return {"bi_query_p50_s": self.rec.p50("query"), "bi_total_s": self.total_s,
                "queries": len(MIX) * self.reps, "query_warm_s": self.warm_s}
