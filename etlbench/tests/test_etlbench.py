"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m pytest etlbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import compare  # noqa: E402
import gates  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator --------------------------------------------------------------


def test_generators_are_deterministic_per_seed():
    a, b, c = gen.star_tables(7, 0.001), gen.star_tables(7, 0.001), gen.star_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert gen.documents(7, 300).equals(gen.documents(7, 300))
    assert not gen.documents(7, 300).equals(gen.documents(8, 300))


# -- timing -----------------------------------------------------------------


def test_unstolen_removes_the_stolen_share():
    assert harness.unstolen(10.0, (100, 5), (190, 15)) == 9.0
    assert harness.unstolen(10.0, (100, 5), (200, 5)) == 10.0
    assert harness.unstolen(10.0, (100, 5), (100, 5)) == 10.0


# -- metric names -----------------------------------------------------------


def fake_run(trace: bool):
    batch = {
        "i": 1, "wall": 2.5, "time": 2.0, "tasks": 2, "errors": [],
        "rows_in": 100, "src_bytes": 10, "written": 40, "files": 4, "traced": True,
    }
    run = harness.Run("etl_bulk", 1, 5, trace, "/nonexistent")
    run.batches = [batch, dict(batch, i=2, traced=False)]
    run.setup_s, run.build_spark_s, run.rss_mb = 3.0, 1.0, 500.0
    run.persisted_rdds = [2, 4, 6]
    return run


def test_emitted_names_are_declared(tmp_path):
    declared = spec()
    e2e = fake_run(False).end_to_end()
    wl = types.SimpleNamespace(name="curation_docs", rows_in=100, docs_kept=40)
    per_layer = spans.Tracer().per_layer(fake_run(True), wl, str(tmp_path))
    for emitted, section in ((e2e, "end_to_end"), (per_layer, "per_layer")):
        names = {m["name"]: m["unit"] for m in declared[section]}
        assert set(emitted) == set(names), section
        for name, (value, unit) in emitted.items():
            assert NAME.fullmatch(name), name
            assert unit == names[name], name
            assert isinstance(value, (int, float))


def test_spec_shape():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(s["workloads"]) <= 8
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    names = [m["name"] for sec in ("workloads", "end_to_end", "per_layer") for m in s[sec]]
    assert len(names) == len(set(names))


def test_declared_workloads_exist():
    src = open(os.path.join(BENCH, "workloads.py")).read()
    for w in spec()["workloads"]:
        assert f'name = "{w["name"]}"' in src


# -- correctness gates ------------------------------------------------------


def write_bulk_output(tables, conf) -> None:
    """A correct etl_bulk output, written from the gate's own SQL."""
    con = gates.connect(tables)
    e, l_ = conf.earliest_date_in_data, conf.latest_date_in_data

    def copy(sql, layer, table):
        d = conf.layer_path(layer, table)
        os.makedirs(d, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{os.path.join(d, 'part-0.parquet')}' (FORMAT parquet)")

    defaults = " UNION ALL SELECT -1, 'MISSING' UNION ALL SELECT -2, 'UNRECOGNISED'"
    for dim, (sk, nk, expr, src) in gates.BULK_DIMS.items():
        copy(f"SELECT sk AS {sk}, nk AS {nk} FROM ({gates.dim_sk_sql(expr, src)}){defaults}",
             "BSE", dim)
    copy(f"SELECT sk AS sk_date, nk AS date_id FROM ({gates.date_sk_sql(e, l_)}) "
         "UNION ALL SELECT -1, NULL UNION ALL SELECT -2, NULL", "BSE", "dm_date")
    copy(gates.expected_fact_sql(e, l_), "BSE", "ft_lineitem")
    copy(gates.SUMMARY_EXPECTED_SQL, "SUM", "su_revenue")
    con.close()


@pytest.fixture
def bulk_output(tmp_path):
    from betl_spark.config import Conf

    tables = gen.star_tables(4, 0.001)
    conf = Conf(app_root=str(tmp_path))
    write_bulk_output(tables, conf)
    return tables, conf


def test_bulk_gate_accepts_correct_output(bulk_output):
    assert gates.check_bulk(*bulk_output) == []


def test_bulk_gate_rejects_one_flipped_sk(bulk_output):
    tables, conf = bulk_output
    path = os.path.join(conf.layer_path("BSE", "dm_part"), "part-0.parquet")
    t = pq.read_table(path)
    sk = t["sk_part"].to_pylist()
    sk[0], sk[1] = sk[1], sk[0]
    pq.write_table(t.set_column(0, "sk_part", pa.array(sk, t["sk_part"].type)), path)
    errs = gates.check_bulk(tables, conf)
    assert errs and any("dm_part" in e for e in errs)


def test_curation_gate_rejects_duplicates(tmp_path):
    docs = gen.documents(5, 50)
    shard = tmp_path / "shard=0"
    shard.mkdir()
    kept = docs.slice(0, 10).select(["doc_id", "text"])
    pq.write_table(kept, shard / "part-0.parquet")
    assert gates.check_curation(docs, str(tmp_path))[0] == []
    pq.write_table(kept.slice(0, 1), shard / "part-1.parquet")
    errs = gates.check_curation(docs, str(tmp_path))[0]
    assert any("duplicate" in e for e in errs)


# -- compare ----------------------------------------------------------------


def write_pairs(path, change_batch_s: float, change_failed: int) -> None:
    with open(path, "w") as f:
        for k in range(10):
            for side, batch_s, failed in (("parent", 10.0 + k / 100, 0),
                                          ("change", change_batch_s, change_failed)):
                metrics = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in spec()["end_to_end"]}
                metrics["batch_s"]["value"] = batch_s
                f.write(json.dumps({"workload": "etl_bulk", "pair": k, "seed": k + 1, "side": side,
                                    "result": {"correct": not failed, "attempted": 20,
                                               "failed": failed, "metrics": metrics}}) + "\n")


def test_compare_reports_a_clear_win(tmp_path, capsys):
    write_pairs(tmp_path / "pairs.jsonl", 5.0, 0)
    assert compare.main(["report", str(tmp_path / "pairs.jsonl")]) == 0
    assert re.search(r"batch_s\s+better", capsys.readouterr().out)


def test_compare_gives_no_win_to_a_change_that_fails_more(tmp_path, capsys):
    write_pairs(tmp_path / "pairs.jsonl", 5.0, 3)
    assert compare.main(["report", str(tmp_path / "pairs.jsonl")]) == 1
    out = capsys.readouterr().out
    assert "failed" in out and "better" not in out
