"""Seeded input generators for the benchmark workloads.

Everything is written with numpy/pandas/pyarrow straight to files, so
generation never starts a Spark job or a Python worker; the engine
only ever sees the generated files. The same seed gives byte-identical
inputs.

* ``warehouse``: the star-schema tables the ``__spark_entry__`` read
  queries scan (TPC-H-like region/nation/customer/supplier/part/
  orders/lineitem plus the ``events`` tick stream), in the column
  types of the reference test data.
* ``deliveries``: daily Barchart staging CSVs (the ``stg_quotes``
  column list of ``plans/ods.py``) with restated earlier days and the
  literal ``null`` sentinel on holiday rows, plus the contract
  dimension and a weekly COT positioning file.
* ``corpus``: ``documents`` and ``embeddings`` with planted near
  duplicates, split by a seeded hash into a history half, a held-out
  query slice and K ordered deliveries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


# --------------------------------------------------------------- warehouse


def warehouse(out_dir: str, seed: int, sf: float) -> None:
    """Star-schema tables at scale factor ``sf`` (lineitem ~6M*sf rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(50, int(15_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    }), f"{out_dir}/supplier.parquet")
    adj = np.array(["large", "small", "red", "blue", "hot", "cold", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }), f"{out_dir}/part.parquet")

    day0 = np.datetime64("1992-01-01", "D")
    odate = day0 + rng.integers(0, 3500, n_ord).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(n_ord, 1000, 500000),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    perm = rng.permutation(n_li)  # unsorted on disk, like the reference data
    ship = np.repeat(odate, lines) + rng.integers(1, 121, n_li).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(ship[perm]),
    }), f"{out_dir}/lineitem.parquet")

    gaps = rng.exponential(26.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    _write(_documents(rng, max(100, int(5000 * sf))), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, max(100, int(2000 * sf))), f"{out_dir}/embeddings.parquet")


# -------------------------------------------------------------- deliveries

STG_COLUMNS = (
    "contract", "timing", "mo", "last", "change", "prev_open", "high", "low",
    "prev", "volume", "oi", "snapshot_date",
)
STG_SCHEMA = (
    "contract STRING, timing STRING, mo STRING, last STRING, change STRING, "
    "prev_open STRING, high STRING, low STRING, prev STRING, volume STRING, "
    "oi STRING, snapshot_date DATE"
)
MONTH_CODES = {3: "H", 5: "K", 7: "N", 9: "U", 12: "Z"}
PLAYERS = ("Com", "Ncom", "Index", "Nrep")


def deliveries(out_dir: str, seed: int, days: int) -> dict:
    """``days`` daily staging CSVs (one per trading day, one row per
    contract month) under ``out_dir/stg``. Each delivery after the
    first also restates up to two earlier days (seeded, within the
    last 20) with new prices, so loads rewrite several date
    partitions.
    About 4% of days are holidays whose rows carry the literal
    ``null`` in every value column (never the first day, so every
    moving-average frame has a value). Returns the manifest the
    workload and its checks need."""
    rng = np.random.default_rng([seed, 2])
    stg_dir = f"{out_dir}/stg"
    os.makedirs(stg_dir, exist_ok=True)
    d0 = dt.date(2020, 1, 6)
    cal = []
    d = d0
    while len(cal) < days:
        if d.weekday() < 5:
            cal.append(d)
        d += dt.timedelta(days=1)
    holiday = rng.random(days) < 0.04
    holiday[0] = False
    months = sorted(MONTH_CODES)

    def quote(i: int, mo: int, rev: int) -> list:
        day = cal[i]
        contract = f"KC{MONTH_CODES[mo]}{(day.year + (mo < day.month)) % 100:02d}"
        if holiday[i] and rev == 0:
            vals = ["null"] * 8
        else:
            px = 120 + 30 * np.sin(i / 17 + mo) + rng.normal(0, 2)
            lo, hi = px - rng.uniform(0, 3), px + rng.uniform(0, 3)
            vals = [
                f"{px:.2f}", f"{rng.normal(0, 1):.2f}", f"{px + rng.normal(0, 1):.2f}",
                f"{hi:.2f}", f"{lo:.2f}", f"{px + rng.normal(0, 1):.2f}",
                str(int(rng.integers(100, 20000))), str(int(rng.integers(1000, 90000))),
            ]
        return [contract, "regular", str(mo), *vals, day.isoformat()]

    files, counts = [], []
    for i in range(days):
        rows = [quote(i, mo, 0) for mo in months]
        # restate two distinct earlier days (two contract months each),
        # so every load after the second rewrites three date partitions
        for j in sorted(rng.choice(np.arange(max(0, i - 20), i), min(i, 2), replace=False)):
            rows += [quote(int(j), int(mo), 1) for mo in sorted(rng.choice(months, 2, replace=False))]
        path = f"{stg_dir}/quotes_{cal[i].isoformat()}.csv"
        pd.DataFrame(rows, columns=STG_COLUMNS).to_csv(path, index=False)
        files.append(path)
        counts.append(len(rows))

    contracts = sorted({f"KC{c}{y % 100:02d}" for y in range(2019, 2023) for c in MONTH_CODES.values()})
    _write(pa.table({
        "contract_id": pa.array(range(1, len(contracts) + 1), pa.int32()),
        "contract_code": contracts,
    }), f"{out_dir}/ods_contract.parquet")

    tuesdays = [c for c in cal if c.weekday() == 1]
    cot = []
    for day in tuesdays:
        for p in PLAYERS:
            lg = float(rng.integers(0, 90000))
            sh = -float(rng.integers(0, 90000))
            cot.append((day, p, lg, sh, lg + sh))
    _write(pa.table({
        "date_actual": pa.array([r[0] for r in cot], pa.date32()),
        "player": [r[1] for r in cot],
        "cit_long": [r[2] for r in cot],
        "cit_short": [r[3] for r in cot],
        "cit_net": [r[4] for r in cot],
    }), f"{out_dir}/cot.parquet")
    return {
        "files": files,
        "rows": counts,
        "days": [c.isoformat() for c in cal],
        "contract_dim": f"{out_dir}/ods_contract.parquet",
        "cot": f"{out_dir}/cot.parquet",
    }


# ------------------------------------------------------------------ corpus


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; ~8% are near
    duplicates (another document, head trimmed, ``dup`` appended)."""
    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, int(rng.integers(10, 101)))) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.08):
        src = texts[int(rng.integers(n_docs))].split()
        cut = int(rng.integers(0, max(1, len(src) // 8)))
        texts[i] = " ".join(src[cut:] + ["dup"])
    lang_p = np.array([p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice([lang for lang, _ in LANGS], n_docs, p=lang_p / lang_p.sum()),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n_vecs: int) -> pa.Table:
    """Unit vectors around 10 label centres; ~8% are near duplicates
    (another vector plus small noise)."""
    centers = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, n_vecs)
    vec = rng.normal(0, 1, (n_vecs, DIM)) + 0.3 * centers[label]
    for i in np.flatnonzero(rng.random(n_vecs) < 0.08):
        j = int(rng.integers(n_vecs))
        vec[i] = vec[j] + rng.normal(0, 0.05, DIM)
        label[i] = label[j]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, k_docs: int, k_vecs: int) -> dict:
    """Documents and embeddings with ~8% planted near duplicates,
    split by a seeded hash into history (45%), a held-out query slice
    (10%) and ``k_docs`` / ``k_vecs`` ordered deliveries (the rest).
    Each delivery is one flat parquet file in a landing directory, with
    increasing modification times, so a file-source stream with
    ``maxFilesPerTrigger=1`` drains them in order, one per
    micro-batch."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    docs = _documents(rng, n_docs)
    embs = _embeddings(rng, n_vecs)

    def split(table: pa.Table, name: str, salt: int, k: int) -> dict:
        u = np.random.default_rng([seed, 4, salt]).random(table.num_rows)
        part = {"history": u < 0.45, "held_out": (u >= 0.45) & (u < 0.55)}
        rest = u >= 0.55
        bucket = np.minimum(((u - 0.55) / 0.45 * k).astype(int), k - 1)
        out = {}
        for key, mask in part.items():
            out[key] = f"{out_dir}/{name}_{key}.parquet"
            _write(table.filter(pa.array(mask)), out[key])
        land = f"{out_dir}/{name}_landing"
        os.makedirs(land, exist_ok=True)
        out["landing"], out["deliveries"] = land, []
        t0 = 1_600_000_000
        for b in range(k):
            p = f"{land}/delivery_{b:03d}.parquet"
            _write(table.filter(pa.array(rest & (bucket == b))), p)
            # the file source drains in modification-time order
            os.utime(p, (t0 + b, t0 + b))
            out["deliveries"].append(p)
        return out

    return {"documents": split(docs, "documents", 0, k_docs),
            "embeddings": split(embs, "embeddings", 1, k_vecs)}
