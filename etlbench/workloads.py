"""The benchmark workloads, each driven through betl_spark's public API.

A workload owns a directory ``root`` inside the benchmark's work dir. Its
life cycle, called by the harness:

- ``setup()``    generate the seeded inputs and stage the sources;
- ``batch(i)``   the timed unit of work; returns the number of pipeline
  tasks it ran;
- ``check(i)``   the correctness gate for batch ``i`` (a list of
  mismatch messages; empty means correct), see ``gates.py``.

Every batch runs through ``Pipeline`` (``run`` or ``schedule_dataflows``),
and ``CountingPipeline`` counts the pipeline tasks it runs.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gates
import gen

from betl_spark import Conf, Pipeline, ScheduleConfig
from betl_spark.io import Datastore
from betl_spark.schema.registry import SchemaRegistry


class CountingPipeline(Pipeline):
    """A Pipeline that counts the tasks it runs."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.tasks_run = 0

    def _run_task(self, name, fn):
        self.tasks_run += 1
        super()._run_task(name, fn)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""
    rows_in = 0  # input rows of one batch, the base of rows_per_s
    warmup_batches = 1  # untimed batches at the end of set-up

    def __init__(self, seed: int, root: str, spark):
        self.seed = seed
        self.root = root
        self.spark = spark
        self.src_dir = os.path.join(root, "src")
        self.conf = Conf(app_root=os.path.join(root, "app"))
        self.src_bytes = 0  # source bytes one batch reads

    @property
    def out_dir(self) -> str:
        """Staging + warehouse layers: what storage_amp counts."""
        return str(self.conf.tmp_data_path)

    def setup(self) -> None:
        raise NotImplementedError

    def batch(self, i: int) -> int:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        raise NotImplementedError


# -- etl_bulk --------------------------------------------------------------

def star_registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.define("BSE", "dm_customer", [
        ("sk_customer", "SERIAL", "Surrogate key"),
        ("nk_customer", "TEXT", "Natural key"),
        ("c_name", "TEXT"), ("c_nation", "TEXT"),
        ("c_mktsegment", "TEXT"), ("c_acctbal", "NUMERIC"),
    ])
    reg.define("BSE", "dm_part", [
        ("sk_part", "SERIAL", "Surrogate key"),
        ("nk_part", "TEXT", "Natural key"),
        ("p_name", "TEXT"), ("p_brand", "TEXT"), ("p_type", "TEXT"),
        ("p_size", "INTEGER"), ("p_retailprice", "NUMERIC"),
    ])
    reg.define("BSE", "dm_supplier", [
        ("sk_supplier", "SERIAL", "Surrogate key"),
        ("nk_supplier", "TEXT", "Natural key"),
        ("s_name", "TEXT"), ("s_nation", "TEXT"), ("s_acctbal", "NUMERIC"),
    ])
    reg.define("BSE", "dm_date", [
        ("sk_date", "SERIAL", "Surrogate key"),
        ("date_id", "INTEGER", "Natural key"),
        ("cal_date", "DATE"), ("cal_year", "INTEGER"), ("cal_month", "INTEGER"),
    ])
    reg.define("BSE", "ft_lineitem", [
        ("fk_customer", "BIGINT", "Foreign key", "dm_customer"),
        ("fk_part", "BIGINT", "Foreign key", "dm_part"),
        ("fk_supplier", "BIGINT", "Foreign key", "dm_supplier"),
        ("fk_date", "BIGINT", "Foreign key", "dm_date"),
        ("l_orderkey", "BIGINT"), ("l_linenumber", "INTEGER"),
        ("l_quantity", "NUMERIC"), ("l_extendedprice", "NUMERIC"),
        ("l_discount", "NUMERIC"), ("l_tax", "NUMERIC"),
        ("l_returnflag", "TEXT"), ("l_shipdate", "DATE"),
    ])
    reg.define("SUM", "su_revenue", [
        ("c_nation", "TEXT"), ("cal_year", "INTEGER"),
        ("n_lines", "BIGINT"), ("revenue", "NUMERIC"),
    ])
    return reg


PARQUET_TABLES = ("orders", "lineitem")
CSV_TABLES = ("customer", "part", "supplier", "nation")


def extract_parquet_src(p):
    for t in PARQUET_TABLES:
        dfl = p.dataflow(f"extract SRC_PQ.{t}")
        dfl.getDataFromSrc(t, "SRC_PQ")
        dfl.write(t, t, "EXT")


def extract_csv_src(p):
    for t in CSV_TABLES:
        dfl = p.dataflow(f"extract SRC_CSV.{t}")
        dfl.getDataFromSrc(t, "SRC_CSV")
        dfl.write(t, t, "EXT")


def _nation_lookup(dfl, key_col: str, name_col: str):
    dfl.read("nation", "EXT")
    dfl.dropColumns("nation", colsToDrop=["n_regionkey"])
    dfl.dropColumns("nation", dropAuditCols=True)
    dfl.renameColumns("nation", {"n_nationkey": key_col, "n_name": name_col})


def transform_dm_customer(p):
    dfl = p.dataflow("transform dm_customer")
    dfl.read("customer", "EXT")
    _nation_lookup(dfl, "c_nationkey", "c_nation")
    dfl.join(["customer", "nation"], "dm_customer", how="left", joinCol="c_nationkey")
    dfl.renameColumns("dm_customer", {"c_custkey": "nk_customer"})
    dfl.dropColumns("dm_customer", colsToDrop=["c_nationkey"])
    dfl.prepForLoad("dm_customer")


def transform_dm_part(p):
    dfl = p.dataflow("transform dm_part")
    dfl.read("part", "EXT")
    dfl.renameColumns("part", {"p_partkey": "nk_part"}, targetDataset="dm_part")
    dfl.prepForLoad("dm_part")


def transform_dm_supplier(p):
    dfl = p.dataflow("transform dm_supplier")
    dfl.read("supplier", "EXT")
    _nation_lookup(dfl, "s_nationkey", "s_nation")
    dfl.join(["supplier", "nation"], "dm_supplier", how="left", joinCol="s_nationkey")
    dfl.renameColumns("dm_supplier", {"s_suppkey": "nk_supplier"})
    dfl.dropColumns("dm_supplier", colsToDrop=["s_nationkey"])
    dfl.prepForLoad("dm_supplier")


def transform_ft_lineitem(p):
    from pyspark.sql import functions as F

    dfl = p.dataflow("transform ft_lineitem")
    dfl.read("lineitem", "EXT")
    dfl.read("orders", "EXT")
    dfl.dropColumns("orders", colsToKeep=["o_orderkey", "o_custkey"])
    dfl.dropColumns("orders", dropAuditCols=True)
    dfl.join(
        ["lineitem", "orders"], "ft_lineitem", how="left",
        leftJoinCol="l_orderkey", rightJoinCol="o_orderkey",
    )
    dfl.addColumns("ft_lineitem", {
        "nk_date": F.regexp_replace(F.col("l_shipdate"), "-", ""),
    })
    dfl.renameColumns("ft_lineitem", {
        "o_custkey": "nk_customer", "l_partkey": "nk_part", "l_suppkey": "nk_supplier",
    })
    dfl.dropColumns("ft_lineitem", colsToDrop=["l_linestatus"])
    dfl.prepForLoad("ft_lineitem")


SUMMARY_SQL = """
SELECT d.c_nation, t.cal_year, COUNT(*) AS n_lines,
       SUM(f.l_extendedprice) AS revenue
FROM ft_lineitem f
JOIN dm_customer d ON f.fk_customer = d.sk_customer
JOIN dm_date t ON f.fk_date = t.sk_date
GROUP BY d.c_nation, t.cal_year
"""


def summarise_revenue(p):
    dfl = p.dataflow("summarise su_revenue")
    for t in ("ft_lineitem", "dm_customer", "dm_date"):
        dfl.read(t, "BSE")
    dfl.customSQL(SUMMARY_SQL, dataset="su_revenue")
    dfl.write("su_revenue", "su_revenue", "SUM")


class EtlBulk(Workload):
    """Pipeline.run() over a freshly generated star: extract from a
    PARQUET and a FILESYSTEM (CSV) source, transform, dm_date/dm_audit,
    SK loads, the fact load with 5 FKs, one summary."""

    name = "etl_bulk"
    sf = 0.01

    def setup(self) -> None:
        self.tables = gen.star_tables(self.seed, self.sf)
        self.rows_in = sum(t.num_rows for t in self.tables.values())
        for t in PARQUET_TABLES:
            write_parquet(self.tables[t], os.path.join(self.src_dir, "pq", f"{t}.parquet"))
        os.makedirs(os.path.join(self.src_dir, "csv"), exist_ok=True)
        for t in CSV_TABLES:
            pacsv.write_csv(self.tables[t], os.path.join(self.src_dir, "csv", f"{t}.csv"))
        self.src_bytes = dir_bytes(self.src_dir)
        self.conf.datastores = {
            "SRC_PQ": Datastore("SRC_PQ", "PARQUET", is_src_sys=True,
                                path=os.path.join(self.src_dir, "pq")),
            "SRC_CSV": Datastore("SRC_CSV", "FILESYSTEM", is_src_sys=True,
                                 path=os.path.join(self.src_dir, "csv")),
        }
        self.conf.schedule = ScheduleConfig(
            default_extract=False,
            extract_dataflows=[extract_parquet_src, extract_csv_src],
            transform_dataflows=[
                transform_dm_customer, transform_dm_part,
                transform_dm_supplier, transform_ft_lineitem,
            ],
            summarise_dataflows=[summarise_revenue],
        )
        self.registry = star_registry()

    def batch(self, i: int) -> int:
        p = CountingPipeline(self.conf, registry=self.registry, spark=self.spark)
        p.run()
        return p.tasks_run

    def check(self, i: int) -> list[str]:
        return gates.check_bulk(self.tables, self.conf)


# -- curation_docs ---------------------------------------------------------

N_DOCS = 750
N_SHARDS = 8


def lang_features(p):
    dfl = p.dataflow("language features")
    dfl.getDataFromSrc("documents", "DOCS")
    dfl.dropColumns("documents", dropAuditCols=True)
    dfl.langId("documents", "doc_id", "text", targetDataset="docs_lang")
    dfl.write("docs_lang", "docs_lang", "TRN")


def curate(p):
    dfl = p.dataflow("curate documents")
    dfl.getDataFromSrc("documents", "DOCS")
    dfl.dropColumns("documents", dropAuditCols=True)
    dfl.qualityFilter("documents", "doc_id", "text", keepOnly=True)
    dfl.removeNearDuplicates("documents", "doc_id", "text")
    dfl.sampleHash("documents", "doc_id", 0.9)
    dfl.read("docs_lang", "TRN")
    dfl.dropColumns("docs_lang", colsToDrop=["lang_hits"])
    dfl.renameColumns("docs_lang", {"doc_id": "lang_doc_id"})
    dfl.join(
        ["documents", "docs_lang"], "kept", how="inner",
        leftJoinCol="doc_id", rightJoinCol="lang_doc_id",
    )
    dfl.filter("kept", {"lang_pred": ("!=", "und")})
    dfl.writeTrainingShards("kept", p.conf.layer_path("SUM", "training_shards"), "doc_id", N_SHARDS)


class CurationDocs(Workload):
    """DataFlow scale operators over a seeded multilingual corpus:
    langId, qualityFilter, removeNearDuplicates, sampleHash,
    writeTrainingShards."""

    name = "curation_docs"
    warmup_batches = 3

    def setup(self) -> None:
        self.docs = gen.documents(self.seed, N_DOCS)
        self.rows_in = self.docs.num_rows
        write_parquet(self.docs, os.path.join(self.src_dir, "documents.parquet"))
        self.src_bytes = dir_bytes(self.src_dir)
        self.conf.datastores = {
            "DOCS": Datastore("DOCS", "PARQUET", is_src_sys=True, path=self.src_dir),
        }
        self.fingerprint = None
        self.docs_kept = 0

    def batch(self, i: int) -> int:
        p = CountingPipeline(self.conf, spark=self.spark)
        p.schedule_dataflows([lang_features, curate], {"curate": ["lang_features"]})
        return p.tasks_run

    def check(self, i: int) -> list[str]:
        errs, fp, self.docs_kept = gates.check_curation(
            self.docs, self.conf.layer_path("SUM", "training_shards")
        )
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            errs.append(f"curated output differs from the first batch: {fp} != {self.fingerprint}")
        return errs


WORKLOADS = {w.name: w for w in (EtlBulk, CurationDocs)}
