#!/usr/bin/env python3
"""Self-tests for the benchmark's own code (no JVM needed, ~10 s).

    python3 perfbench/selftest.py

* the ingest checker accepts a correct shard set (Parquet and DuckDB) and
  rejects a deleted shard, a flipped content byte and a wrong metadata value;
* the oracle checker accepts a correct result and rejects a wrong row;
* every metric record parses as JSON, and its names are exactly the ones
  BENCHMARK.json declares, for every workload and trace mode;
* the traced run's reconciliation flags a negative layer and a layer sum far
  from the untraced wall time, and counts them in ``engine.error_ratio``;
* BENCHMARK.json itself keeps to the benchmark contract's limits.
"""
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
PER_SHARD = 10


def expected_rows(corpus):
    with open(os.path.join(corpus, "expected.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    for r in rows:
        with open(os.path.join(corpus, "in", r[0]), "rb") as f:
            r.append(f.read())
    return sorted(rows)


def write_parquet_shards(rows, types, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pa_type = {"String": pa.string(), "Float64": pa.float64(), "Bool": pa.bool_(),
               "List(String)": pa.list_(pa.string())}
    os.makedirs(out)
    features = {"audio": {"_type": "Audio"}, "duration": {"dtype": "float64", "_type": "Value"}}
    features.update({k: {} for k in types})
    for i in range(0, len(rows), PER_SHARD):
        chunk = rows[i:i + PER_SHARD]
        audio = pa.array([{"bytes": r[4], "sampling_rate": r[1], "path": r[0]} for r in chunk],
                         pa.struct([("bytes", pa.binary()), ("sampling_rate", pa.int32()),
                                    ("path", pa.string())]))
        cols = {"audio": audio, "duration": pa.array([r[2] for r in chunk], pa.float64())}
        for j, (k, t) in enumerate(types.items()):
            cols[k] = pa.array([r[3][j] for r in chunk], pa_type[t])
        table = pa.table(cols).replace_schema_metadata(
            {"huggingface": json.dumps({"info": {"features": features}})})
        pq.write_table(table, os.path.join(out, f"{i // PER_SHARD}.parquet"))


def write_duckdb_shards(rows, types, out):
    import duckdb
    os.makedirs(out)
    duck = {"String": "VARCHAR", "Float64": "DOUBLE", "Bool": "BOOLEAN", "List(String)": "VARCHAR"}
    for i in range(0, len(rows), PER_SHARD):
        con = duckdb.connect(os.path.join(out, f"{i // PER_SHARD}.duckdb"))
        meta = ", ".join(f'"{k}" {duck[t]}' for k, t in types.items())
        con.execute("CREATE TABLE files (id INTEGER, duration DOUBLE, "
                    f"audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB), {meta})")
        for n, r in enumerate(rows[i:i + PER_SHARD]):
            vals = [json.dumps(v, separators=(",", ":")) if t.startswith("List(") and v is not None
                    else v for v, t in zip(r[3], types.values())]
            con.execute(f"INSERT INTO files VALUES (?, ?, row(?, ?, ?), {', '.join('?' * len(vals))})",
                        [n, r[2], r[0], r[1], r[4]] + vals)
        con.close()


def flip_byte(rows):
    bad = [list(r) for r in rows]
    b = bytearray(bad[3][4])
    b[60] ^= 0xFF
    bad[3][4] = bytes(b)
    return bad


def wrong_meta(rows, types):
    bad = [list(r) for r in rows]
    j = list(types).index("transcription")
    bad[5][3] = list(bad[5][3])
    bad[5][3][j] = bad[5][3][j] + "x"
    return bad


def test_ingest_checker(tmp):
    corpus = gen.corpus("tiny", 0, tmp)
    with open(os.path.join(corpus, "manifest.json")) as f:
        manifest = json.load(f)
    types = manifest["meta_types"]
    rows = expected_rows(corpus)
    for fmt, writer in (("parquet", write_parquet_shards), ("duckdb", write_duckdb_shards)):
        good = os.path.join(tmp, f"{fmt}-good")
        writer(rows, types, good)
        assert check.ingest(good, manifest, fmt, PER_SHARD) == [], fmt
        os.remove(os.path.join(good, f"1.{fmt}"))
        assert check.ingest(good, manifest, fmt, PER_SHARD), f"{fmt}: deleted shard accepted"
        for name, bad in (("flipped byte", flip_byte(rows)), ("wrong value", wrong_meta(rows, types))):
            out = os.path.join(tmp, f"{fmt}-{name.replace(' ', '-')}")
            writer(bad, types, out)
            assert check.ingest(out, manifest, fmt, PER_SHARD), f"{fmt}: {name} accepted"
    good = os.path.join(tmp, "parquet-nofooter")
    write_parquet_shards(rows, types, good)
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(good, "0.parquet"))
    pq.write_table(t.replace_schema_metadata({}), os.path.join(good, "0.parquet"))
    assert check.ingest(good, manifest, "parquet", PER_SHARD), "missing footer accepted"


def test_oracle_checker(tmp):
    import duckdb
    tables = gen.tables(0, tmp)
    sql = "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation GROUP BY n_regionkey"
    res = os.path.join(tmp, "results")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{tables}/nation.parquet')")
    os.makedirs(os.path.join(res, "pass0", "q"))
    con.execute(f"COPY ({sql}) TO '{res}/pass0/q/part-0.parquet' (FORMAT parquet)")
    cache = os.path.join(tmp, "oracle", "cache.json")
    assert check.oracle(ROOT, res, tables, {"q": sql}, cache) == []
    os.makedirs(os.path.join(res, "pass1", "q"))
    con.execute(f"COPY (SELECT n_regionkey, n + (n_regionkey = 2)::BIGINT AS n FROM ({sql})) "
                f"TO '{res}/pass1/q/part-0.parquet' (FORMAT parquet)")
    errs = check.oracle(ROOT, res, tables, {"q": sql}, cache)
    assert errs == ["pass1/q: result differs from the DuckDB oracle"], errs


def fake_records():
    layer = {"cut_scan_s": 1.0, "cut_parse_s": 1.2, "cut_join_s": 1.5, "cut_shard_s": 2.0,
             "meta_load_s": 0.3, "write_s": 3.0, "files_listed": 120, "files_kept": 100,
             "parse_failures": 2, "meta_hits_l1": 60, "meta_hits_l2": 15, "meta_hits_l3": 15,
             "engine": {"wall_s": 3.0, "jobs": 5, "stages": 7, "tasks": 40, "plan_s": 0.1,
                        "executor_run_s": 9.0, "executor_cpu_s": 8.0, "gc_s": 0.2,
                        "sched_gap_s": 0.4, "shuffle_read_bytes": 10, "shuffle_write_bytes": 10,
                        "spill_bytes": 0, "input_bytes": 100, "batches": 0, "phases": {}}}
    ingest = {"setup_s": 9.5, "wall_s": [2.9, 3.1, 3.0], "peak_rss_mb": 1500.0, "layers": [layer]}
    entries = {e: [1.0] for e in run.ENTRIES}
    eng = dict(layer["engine"], batches=1, phases={"addBatch": 0.2, "walCommit": 0.05})
    query = {"setup_s": 9.0, "wall_s": [len(entries)], "peak_rss_mb": 1800.0,
             "traced_wall_s": [len(entries) * 1.05], "traced_entries": entries,
             "traced_passes": 1, "engine": {e: eng for e in run.ENTRIES}}
    ctx = dict(items=100, input_bytes=1000, output_bytes=990, shards=10, attempted=4, failed=0,
               breaches=[])
    return {"ingest_large_parquet": ingest, "ingest_small_duckdb": ingest, "query_hot": query}, ctx


def test_metric_records():
    records, ctx = fake_records()
    for workload, rec in records.items():
        for trace in (0, 1):
            metrics = (run.per_layer if trace else run.end_to_end)(rec, ctx)
            result = {"correct": True, "attempted": 4, "failed": 0, "metrics": run.fill(metrics, trace)}
            parsed = json.loads(json.dumps(result))
            assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
            assert set(parsed["metrics"]) == set(run.declared(trace)), (workload, trace)
            for m in parsed["metrics"].values():
                assert isinstance(m["value"], float) and set(m) == {"value", "unit"}
    ingest = records["ingest_large_parquet"]
    assert run.reconcile(ingest) == [] and run.reconcile(records["query_hot"]) == []
    bad = dict(ingest, layers=[dict(ingest["layers"][0], cut_join_s=0.9)])  # join "took" -0.3 s
    assert len(run.reconcile(bad)) == 1, "negative layer accepted"
    slow = dict(ingest, wall_s=[2.0, 2.1, 2.2])  # traced sum 3.0 s vs untraced 2.1 s
    assert len(run.reconcile(slow)) == 1, "layer sum far from wall_s accepted"
    m = run.per_layer(bad, dict(ctx, breaches=run.reconcile(bad)))
    assert m["engine.error_ratio"][0] > 0, "breach not counted in engine.error_ratio"
    try:
        run.fill({"not_declared": (1.0, "s")}, 0)
        raise AssertionError("undeclared metric accepted")
    except run.BenchError:
        pass


def test_benchmark_json():
    raw = open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read()
    assert len(raw) <= 64 * 1024
    spec = json.loads(raw)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert set(w["name"] for w in spec["workloads"]) == set(run.WORKLOADS)
    assert 2 <= len(spec["workloads"]) <= 8 and 1 <= spec["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"]) and m["better"] in ("higher", "lower")
        names.append(m["name"])
    assert len(names) == len(set(names)), "duplicate names"
    assert 1 <= len(spec["per_layer"]) <= 128 and 1 <= len(spec["end_to_end"]) <= 16
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def main():
    tmp = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tests = [("ingest checker", lambda: test_ingest_checker(tmp)),
             ("oracle checker", lambda: test_oracle_checker(tmp)),
             ("metric records", test_metric_records),
             ("BENCHMARK.json", test_benchmark_json)]
    failed = 0
    for label, fn in tests:
        try:
            fn()
            print(f"ok   {label}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {label}: {e}")
    shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
