"""Domain ETL parity tests: the reference's E1/E2/E3 lifecycle on
reference-shaped fixtures (FIXTURES.md §A), plus physical-plan probes
for the scale-critical properties."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from building_coffee_commodity_trading_data_warehouse_spark.operators import normalize
from building_coffee_commodity_trading_data_warehouse_spark.plans import explain, ingest, ods
from building_coffee_commodity_trading_data_warehouse_spark.sources import csv as csvsrc
from building_coffee_commodity_trading_data_warehouse_spark.sources import report, rest


# ---------------------------------------------------------------- fixtures


def _stg_quotes(spark, days=300, months=(2, 3, 5)):
    """A2: deterministic Barchart-staging fixture — one row per
    (trading day, contract month), prices in the 100-300 range."""
    rows = []
    d0 = dt.date(2020, 1, 1)
    for i in range(days):
        day = d0 + dt.timedelta(days=i)
        for mo in months:
            px = 100.0 + ((i * 7 + mo * 13) % 2000) / 10.0
            rows.append(
                (
                    f"KCH{mo}",
                    "regular",
                    str(mo),
                    f"{px:.2f}",
                    "0.5",
                    f"{px - 1:.2f}",
                    f"{px + 2:.2f}",
                    f"{px - 2:.2f}",
                    f"{px - 0.5:.2f}",
                    str(1000 + i),
                    str(5000 + i),
                    day,
                )
            )
    return spark.createDataFrame(
        rows,
        "contract string, timing string, mo string, last string, change string, "
        "prev_open string, high string, low string, prev string, volume string, "
        "oi string, snapshot_date date",
    )


def _dims(spark, days=300, months=(2, 3, 5)):
    d0 = dt.date(2020, 1, 1)
    dates = [
        (int((d0 + dt.timedelta(days=i)).strftime("%Y%m%d")), d0 + dt.timedelta(days=i))
        for i in range(days)
    ]
    ods_date = spark.createDataFrame(dates, "date_id int, date_actual date")
    ods_contract = spark.createDataFrame(
        [(i + 1, f"KCH{mo}") for i, mo in enumerate(months)],
        "contract_id int, contract_code string",
    )
    return ods_date, ods_contract


REPORT_TEXT = """USDA Cotton Report
preface page, no tables
\fWORLD SUPPLY AND DISTRIBUTION
Season: 2023/24 marketing year
<TABLE>
Country,Beginning Stocks,Productio,Imports,Total Supply,Domestic Use,Loss,Exports,Ending Stocks
Brazil,"1,200",900,10,"2,110",800,5,600,705
Vietnam,300,450,20,770,400,2,250,118
</TABLE>
<TABLE>
narrow,table
a,b
</TABLE>
\fappendix page
"""

REST_PAYLOAD = (
    '{"value": ['
    '{"Code": "BRA", "Title": "Brazil", "Dimension": "COUNTRY",'
    ' "ParentDimension": "REGION", "ParentCode": "AMR", "ParentTitle": "Americas"},'
    '{"Code": "VNM", "Title": "Viet Nam", "Dimension": "COUNTRY",'
    ' "ParentDimension": "REGION", "ParentCode": "WPR", "ParentTitle": "Western Pacific"}'
    "]}"
)


# ---------------------------------------------------------------- normalize


def test_clean_extracted_table(spark):
    messy = spark.createDataFrame(
        [
            ("country", "beginning", "production 1000", "12 24", None, "x"),
            ("Brazil", "1,200", "900", "10 20", None, "y"),
            ("Vietnam", "300", "450", "30 40", None, "z"),
            (None, None, None, None, None, "only-one-non-null"),
        ],
        "`Country` string, `beginning` string, `productio` string, "
        "`imports exports` string, `Unnamed: 3` string, `area` string",
    )
    out = normalize.clean_extracted_table(messy)
    assert sorted(out.columns) == sorted(
        ["country", "beginning_stocks", "production", "imports", "exports", "area"]
    )
    rows = {r["country"]: r for r in out.collect()}
    # header-echo row and the <2-non-null row are gone
    assert set(rows) == {"Brazil", "Vietnam"}
    assert rows["Brazil"]["beginning_stocks"] == "1200"  # P8 scrub
    assert rows["Brazil"]["imports"] == "10" and rows["Brazil"]["exports"] == "20"  # P7


def test_repair_null_columns_from_country_neighbor(spark):
    df = spark.createDataFrame(
        [("Brazil", None, "900")], "country string, loss string, exports string"
    )
    out = normalize.clean_extracted_table(df, thresh=1)
    row = out.collect()[0]
    # all-null 'loss' right of 'country' inherits the LEFT neighbor
    assert row["loss"] == "Brazil"


def test_sentinel_to_null(spark):
    df = spark.createDataFrame(
        [("2000-01-17", "null"), ("2000-01-18", "116.25")], "d string, close string"
    )
    out = normalize.sentinel_to_null(df)
    vals = [r["close"] for r in out.orderBy("d").collect()]
    assert vals == [None, "116.25"]


# ---------------------------------------------------------------- sources


def test_read_ohlcv_nulls(spark, tmp_path):
    p = tmp_path / "kc.csv"
    p.write_text(
        "Date,Open,High,Low,Close,Adj Close,Volume\n"
        "2000-01-14,116.5,118.0,116.0,117.25,117.25,1200\n"
        "2000-01-17,null,null,null,null,null,null\n"
    )
    df = csvsrc.read_ohlcv(spark, str(p))
    rows = df.orderBy("Date").collect()
    assert rows[0]["Close"] == 117.25
    assert rows[1]["Close"] is None and rows[1]["Volume"] is None
    assert csvsrc.source_row_count(spark, str(p)) == 2


def test_report_pipeline(spark, tmp_path):
    (tmp_path / "usda_2023.txt").write_text(REPORT_TEXT)
    out = report.report_pipeline(
        spark, str(tmp_path), snapshot_date="2023-08-01", report_date="2023-07-31"
    )
    rows = {r["country"]: r for r in out.collect()}
    assert set(rows) == {"Brazil", "Vietnam"}  # narrow table filtered out
    b = rows["Brazil"]
    assert b["season"] == "2023/24"
    assert b["beginning_stocks"] == 1200 and b["total_supply"] == 2110  # scrub+cast
    assert b["production"] == 900  # typo-tolerant header ('Productio')
    assert b["report_date"] == dt.date(2023, 7, 31)


def test_rest_dimension(spark):
    out = rest.dimension_from_json(spark, REST_PAYLOAD)
    rows = out.orderBy("code").collect()
    assert [r["code"] for r in rows] == ["BRA", "VNM"]
    assert rows[0]["parent_title"] == "Americas"
    assert list(out.columns) == list(rest.DIMENSION_COLUMNS)


# ---------------------------------------------------------------- ingest


def test_merge_into_idempotent(spark, tmp_path):
    target = str(tmp_path / "usda")
    snap1 = spark.createDataFrame(
        [("Brazil", "2023-07-31", 900), ("Vietnam", "2023-07-31", 450)],
        "country string, report_date string, production int",
    )
    rep1 = ingest.load_with_audit(
        spark, snap1, target, ["country", "report_date"],
        "stg", "usda", "stg_usda", "2023-08-01",
    )
    assert (rep1.source_row, rep1.target_row) == (2, 2)
    # rerun same snapshot → unchanged (reference idempotency)
    ingest.load_with_audit(
        spark, snap1, target, ["country", "report_date"],
        "stg", "usda", "stg_usda", "2023-08-01",
    )
    assert spark.read.parquet(target).count() == 2
    # revised snapshot replaces matched keys, keeps the rest
    snap2 = spark.createDataFrame(
        [("Brazil", "2023-07-31", 950), ("India", "2023-07-31", 700)],
        "country string, report_date string, production int",
    )
    rep2 = ingest.load_with_audit(
        spark, snap2, target, ["country", "report_date"],
        "stg", "usda", "stg_usda", "2023-08-02",
    )
    assert rep2.target_row == 3
    got = {r["country"]: r["production"] for r in spark.read.parquet(target).collect()}
    assert got == {"Brazil": 950, "Vietnam": 450, "India": 700}


def test_audit_append(spark, tmp_path):
    audit = str(tmp_path / "audit")
    rep = ingest.LoadReport("stg", "usda", "stg_usda", 2, 2, 0.1, "2023-08-01")
    ingest.audit_append(spark, rep, audit)
    ingest.audit_append(spark, rep, audit)
    df = spark.read.parquet(audit)
    assert df.count() == 2
    assert set(ingest.AUDIT_COLUMNS) == set(df.columns)
    assert df.filter(F.col("source_row") == F.col("target_row")).count() == 2


# ---------------------------------------------------------------- ODS fact


def test_build_fact_matches_duckdb(spark):
    stg = _stg_quotes(spark)
    ods_date, ods_contract = _dims(spark)
    fact = ods.build_fact(stg, ods_date, ods_contract)
    assert list(fact.columns) == list(ods.FACT_COLUMNS)

    got = fact.toPandas()
    con = duckdb.connect()
    con.register("stg_quotes", stg.toPandas())
    con.register("ods_date", ods_date.toPandas())
    con.register("ods_contract", ods_contract.toPandas())
    want = con.execute(
        """
WITH q AS (
  SELECT snapshot_date AS date_actual, contract,
    COALESCE(LEAD(contract, 1) OVER w_mo, 'NaN') AS prev_contract,
    CAST(mo AS INT) AS mo, CAST(last AS DOUBLE) AS last,
    LEAD(CAST(last AS DOUBLE), 1) OVER w_mo AS prev_last,
    change, prev_open, high, low, prev,
    CAST(volume AS BIGINT) AS volume, CAST(oi AS BIGINT) AS oi,
    ROUND(CAST(last AS DOUBLE) - LAG(CAST(last AS DOUBLE), 1) OVER w_day, 2) AS spread,
    CAST(SUM(CAST(CAST(last AS DOUBLE) AS DECIMAL(38,6)))
         OVER (w_mo ROWS BETWEEN 200 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(last) OVER (w_mo ROWS BETWEEN 200 PRECEDING AND CURRENT ROW) AS ma_200,
    CAST(SUM(CAST(CAST(last AS DOUBLE) AS DECIMAL(38,6)))
         OVER (w_mo ROWS BETWEEN 50 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(last) OVER (w_mo ROWS BETWEEN 50 PRECEDING AND CURRENT ROW) AS ma_50
  FROM stg_quotes
  WINDOW w_mo AS (PARTITION BY mo ORDER BY snapshot_date),
         w_day AS (PARTITION BY snapshot_date ORDER BY CAST(mo AS INT) DESC)
)
SELECT d.date_id, c.contract_id, p.contract_id AS prev_contract_id,
       q.prev_open, q.prev, q.mo, q.last, q.prev_last, q.change, q.high, q.low,
       q.volume, q.oi, q.spread, q.ma_200, q.ma_50
FROM q
LEFT JOIN ods_date d USING (date_actual)
LEFT JOIN ods_contract c ON q.contract = c.contract_code
LEFT JOIN ods_contract p ON q.prev_contract = p.contract_code
"""
    ).fetchdf()
    con.close()
    key = ["date_id", "mo"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    for col in ods.FACT_COLUMNS:
        g, w = got_s[col], want_s[col]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            assert ((g - w).abs().fillna(0) < 1e-9).all(), col
            assert (g.isna() == w.isna()).all(), col
        else:
            assert (g.astype("object").where(g.notna(), None).tolist()
                    == w.astype("object").where(w.notna(), None).tolist()), col
    # series edge: the last row of each mo-series has no next contract
    assert got_s["prev_contract_id"].isna().sum() == 3  # one per month series


def test_load_fact_partition_pruning(spark, tmp_path):
    stg = _stg_quotes(spark, days=30)
    ods_date, ods_contract = _dims(spark, days=30)
    path = str(tmp_path / "fact")
    ods.load_fact(ods.build_fact(stg, ods_date, ods_contract), path)
    scan = spark.read.parquet(path).filter(F.col("date_id") == 20200115)
    assert scan.count() == 3
    # partition filter never reaches the row-group reader — it prunes
    # directories; assert the scan plan carries it as a PartitionFilter
    assert "PartitionFilters" in explain.plan_string(scan)


# ---------------------------------------------------------------- plans


def test_fact_build_broadcasts_dims(spark):
    stg = _stg_quotes(spark, days=30)
    ods_date, ods_contract = _dims(spark, days=30)
    fact = ods.build_fact(stg, ods_date, ods_contract)
    assert explain.broadcast_join_count(fact) == 3  # date + 2×contract roles


def test_parquet_scan_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_partkey") == 7)
        .select("l_partkey", "l_extendedprice")
    )
    assert explain.has_pushed_filter(df, "l_partkey")
    read = explain.read_schema_columns(df)
    assert set(read) == {"l_partkey", "l_extendedprice"}  # pruning


def test_partitioned_merge_key_moves_partition(spark, tmp_path):
    """Global DELETE-WHERE-EXISTS semantics (STG.py:102-115): when a
    staged key's partition value CHANGED, the stale copy in the old
    (otherwise untouched) partition is deleted — and a partition emptied
    by that delete disappears entirely."""
    target = str(tmp_path / "fact_moved")
    base = spark.createDataFrame(
        [("2020-01-01", "Brazil", 1), ("2020-01-01", "Vietnam", 2),
         ("2020-01-03", "Kenya", 3)],
        "day string, country string, v int",
    )
    ingest.truncate_reload(base, target, partition_by="day")
    # keys EXCLUDE the partition column: Brazil moves 01 -> 02, Kenya
    # moves 03 -> 02 (emptying the 03 partition)
    staged = spark.createDataFrame(
        [("2020-01-02", "Brazil", 10), ("2020-01-02", "Kenya", 30)],
        "day string, country string, v int",
    )
    rep = ingest.load_with_audit(
        spark, staged, target, ["country"], "stg", "moves", "fact_moved",
        "2020-01-02", partition_by="day",
    )
    assert (rep.source_row, rep.target_row) == (2, 3)
    got = {(str(r["day"]), r["country"]): r["v"]
           for r in spark.read.parquet(target).collect()}
    assert got == {("2020-01-01", "Vietnam"): 2,
                   ("2020-01-02", "Brazil"): 10,
                   ("2020-01-02", "Kenya"): 30}
    assert not os.path.exists(f"{target}/day=2020-01-03")


def test_partitioned_merge_empties_escaped_partition(spark, tmp_path):
    """Spark escapes partition directory names (``x:1`` is written as
    ``day=x%3A1``): a key moving out of such a partition leaves no stale
    copy behind, and the emptied directory is removed."""
    target = str(tmp_path / "escaped")
    base = spark.createDataFrame(
        [("x:1", "Brazil", 1), ("y", "Kenya", 2)], "day string, country string, v int"
    )
    ingest.truncate_reload(base, target, partition_by="day")
    assert os.path.isdir(f"{target}/day=x%3A1")
    staged = spark.createDataFrame([("y", "Brazil", 10)], "day string, country string, v int")
    ingest.merge_into(spark, target, staged, ["country"], partition_by="day")
    got = sorted((r["day"], r["country"], r["v"]) for r in spark.read.parquet(target).collect())
    assert got == [("y", "Brazil", 10), ("y", "Kenya", 2)]
    assert not os.path.exists(f"{target}/day=x%3A1")


def test_partitioned_merge_keeps_null_partition_rows(spark, tmp_path):
    """A staged row with a null partition value rewrites the
    ``__HIVE_DEFAULT_PARTITION__`` directory from the rows already
    there plus the staged ones: the existing null-partition rows
    survive."""
    target = str(tmp_path / "nulls")
    base = spark.createDataFrame(
        [(None, "Brazil", 1), ("2020-01-01", "Kenya", 2)], "day string, country string, v int"
    )
    ingest.truncate_reload(base, target, partition_by="day")
    staged = spark.createDataFrame([(None, "India", 3)], "day string, country string, v int")
    ingest.merge_into(spark, target, staged, ["country"], partition_by="day")
    got = sorted((r["country"], r["v"]) for r in spark.read.parquet(target).collect())
    assert got == [("Brazil", 1), ("India", 3), ("Kenya", 2)]


def test_load_into_unreadable_target_raises_and_keeps_data(spark, tmp_path):
    """An existing target that cannot be read is an error, never a
    first load: the load raises and the other partition's files are
    left as they were (no truncate-and-reload over the table)."""
    target = tmp_path / "stg"
    base = spark.createDataFrame(
        [("2020-01-01", "Brazil", 1), ("2020-01-02", "Kenya", 2)],
        "day string, country string, v int",
    )
    ingest.truncate_reload(base, str(target), partition_by="day")
    for f in (target / "day=2020-01-01").iterdir():
        if f.name.endswith(".crc"):
            f.unlink()
        elif f.name.endswith(".parquet"):
            f.write_bytes(b"not a parquet file " * 8)
    other = target / "day=2020-01-02"
    kept = {f.name: (f.read_bytes(), f.stat().st_mtime_ns) for f in other.iterdir()}
    staged = spark.createDataFrame(
        [("2020-01-01", "Brazil", 10)], "day string, country string, v int"
    )
    with pytest.raises(Py4JJavaError):
        ingest.load_with_audit(
            spark, staged, str(target), ["day", "country"], "stg", "d", "stg",
            "2020-01-01", partition_by="day",
        )
    assert {f.name: (f.read_bytes(), f.stat().st_mtime_ns) for f in other.iterdir()} == kept


def _delivery(spark, path, day: str, first: int):
    """One daily staging CSV of nine contracts starting at ``first``,
    read the way the daily loader reads it."""
    lines = ["contract,snapshot_date,last"]
    lines += [f"KC{first + j},{day},{100 + first + j}.5" for j in range(9)]
    path.write_text("\n".join(lines) + "\n")
    return csvsrc.read_csv(
        spark, str(path), "contract STRING, snapshot_date DATE, last DOUBLE"
    )


@pytest.mark.parametrize(
    "keys,budget,rows",
    [
        # the partition column is a key: no stale-partition probe
        (["contract", "snapshot_date"], 8, 27),
        # not a key: the probe rides the staged aggregate as a union side
        (["contract"], 10, 15),
    ],
    ids=["partition_in_keys", "partition_not_key"],
)
def test_daily_load_job_budget(spark, spark_jobs, tmp_path, keys, budget, rows):
    """Jobs per daily load (merge + reconcile + audit row) into an
    existing date-partitioned target: a regression here is a fixed
    per-load cost the sf-size benchmarks cannot see through noise."""
    target, audit = str(tmp_path / "stg"), str(tmp_path / "audit")
    reports = []

    def load(i):
        day = f"2020-01-0{i + 1}"
        staged = _delivery(spark, tmp_path / f"d{i}.csv", day, 3 * i)
        rep = ingest.load_with_audit(
            spark, staged, target, keys, "stg", f"d{i}.csv", "stg", day,
            partition_by="snapshot_date",
        )
        ingest.audit_append(spark, rep, audit)
        reports.append(rep)

    load(0)
    load(1)
    jobs = spark_jobs(lambda: load(2))
    assert 0 < len(jobs) <= budget, sorted(jobs)
    assert [r.source_row for r in reports] == [9, 9, 9]
    assert reports[-1].target_row == rows == spark.read.parquet(target).count()


def test_partitioned_merge_touches_only_affected_partitions(spark, tmp_path):
    target = str(tmp_path / "fact_parted")
    base = spark.createDataFrame(
        [("2020-01-01", "Brazil", 1), ("2020-01-01", "Vietnam", 2),
         ("2020-01-02", "Brazil", 3), ("2020-01-03", "India", 4)],
        "day string, country string, v int",
    )
    ingest.truncate_reload(base, target, partition_by="day")
    untouched = f"{target}/day=2020-01-03"
    before = {f: os.path.getmtime(f"{untouched}/{f}") for f in os.listdir(untouched)
              if f.endswith(".parquet")}

    staged = spark.createDataFrame(
        [("2020-01-01", "Brazil", 10), ("2020-01-04", "Kenya", 5)],
        "day string, country string, v int",
    )
    ingest.merge_into(spark, target, staged, ["day", "country"], partition_by="day")

    # partition-dir values are type-inferred on read (string -> DATE)
    got = {(str(r["day"]), r["country"]): r["v"]
           for r in spark.read.parquet(target).collect()}
    assert got == {("2020-01-01", "Brazil"): 10, ("2020-01-01", "Vietnam"): 2,
                   ("2020-01-02", "Brazil"): 3, ("2020-01-03", "India"): 4,
                   ("2020-01-04", "Kenya"): 5}
    # dynamic partition overwrite must NOT have rewritten 2020-01-03
    after = {f: os.path.getmtime(f"{untouched}/{f}") for f in os.listdir(untouched)
             if f.endswith(".parquet")}
    assert after == before
