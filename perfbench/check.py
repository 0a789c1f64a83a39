"""Output checkers. Each returns a list of error strings (empty = correct).

* ``ingest(out_dir, manifest, fmt, files_per_shard)`` checks one CLI output
  directory against the corpus manifest: exact shard names ``0..n-1``, full
  shards except the last, the kept-file total, the Parquet ``huggingface``
  footer with sorted metadata keys, and the order-insensitive checksum of
  ``(path, content hash, sampling_rate, duration, metadata values)``.
* ``oracle(results_dir, tables_dir, oracle_sql, cache)`` compares every query
  result with DuckDB running the entry's oracle SQL on the same tables, with
  the canonicalization of ``scripts/check_oracle.py``.
"""
import hashlib
import importlib.util
import json
import math
import os

import gen


def _shard_rows_parquet(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    audio = t.column("audio").combine_chunks()
    cols = [t.column(c).to_pylist() for c in t.column_names if c not in ("audio", "duration")]
    rows = zip(audio.field("path").to_pylist(), audio.field("bytes").to_pylist(),
               audio.field("sampling_rate").to_pylist(), t.column("duration").to_pylist(),
               *cols)
    return [(p, b, r, d, list(m)) for p, b, r, d, *m in rows]


def _footer_errors(path, meta_keys):
    import pyarrow.parquet as pq
    kv = pq.ParquetFile(path).metadata.metadata or {}
    if b"huggingface" not in kv:
        return [f"{os.path.basename(path)}: no huggingface footer key"]
    feats = list(json.loads(kv[b"huggingface"])["info"]["features"])
    want = ["audio", "duration"] + sorted(meta_keys)
    return [] if feats == want else [f"{os.path.basename(path)}: footer features {feats} != {want}"]


def _shard_rows_duckdb(path, types):
    import duckdb
    con = duckdb.connect(path, read_only=True)
    try:
        cols = ", ".join(f'"{k}"' for k in types)
        rows = con.execute(f"SELECT audio.path, audio.bytes, audio.sampling_rate, duration, {cols} "
                           "FROM files ORDER BY id").fetchall()
    finally:
        con.close()
    lists = [i for i, t in enumerate(types.values()) if t.startswith("List(")]
    out = []
    for p, b, r, d, *m in rows:
        for i in lists:  # list columns are stored as JSON text
            m[i] = None if m[i] is None else json.loads(m[i])
        out.append((p, bytes(b), r, d, m))
    return out


def ingest(out_dir, manifest, fmt, files_per_shard):
    ext = {"parquet": ".parquet", "duckdb": ".duckdb"}[fmt]
    kept = manifest["expected_kept"]
    n = max(1, math.ceil(kept / files_per_shard))
    names = sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []
    want = sorted(f"{i}{ext}" for i in range(n))
    if names != want:
        return [f"shard names {names[:5]}... ({len(names)}) != 0..{n - 1}{ext}"]
    types = manifest["meta_types"]
    errors, digests = [], []
    for i in range(n):
        path = os.path.join(out_dir, f"{i}{ext}")
        if fmt == "parquet":
            errors += _footer_errors(path, list(types))
            rows = _shard_rows_parquet(path)
        else:
            rows = _shard_rows_duckdb(path, types)
        size = files_per_shard if i < n - 1 else kept - files_per_shard * (n - 1)
        if len(rows) != size:
            errors.append(f"shard {i}: {len(rows)} rows, expected {size}")
        for p, b, r, d, m in rows:
            digests.append(gen.row_digest(p, hashlib.sha256(b).hexdigest(), r, d, m))
    if len(digests) != kept:
        errors.append(f"{len(digests)} rows in total, expected {kept}")
    if gen.set_checksum(digests) != manifest["checksum"]:
        errors.append("content checksum differs from the manifest")
    return errors


def _canon_module(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(canon, cols, rows):
    names, lines = canon.table_canon(cols, rows)
    return hashlib.sha256(("\n".join(["|".join(names)] + lines)).encode()).hexdigest()


def oracle(root, results_dir, tables_dir, oracle_sql, cache_path):
    """Compare each entry's result with its DuckDB oracle. Oracle digests are
    cached in ``cache_path``, which the caller names after the tables'
    content key."""
    import duckdb
    canon = _canon_module(root)
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = None
    errors = []
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        if cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in canon.TABLES:
                    p = os.path.join(tables_dir, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            cur = con.execute(sql)
            rows = cur.fetchall()
            cache[name] = {"sql": key, "digest": _digest(canon, [d[0] for d in cur.description], rows),
                           "rows": len(rows)}
        for tag in sorted(os.listdir(results_dir)):
            res = os.path.join(results_dir, tag, name)
            files = sorted(os.path.join(res, f) for f in os.listdir(res)
                           if f.endswith(".parquet")) if os.path.isdir(res) else []
            if not files:
                errors.append(f"{tag}/{name}: no result")
                continue
            rel = duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})")
            got = _digest(canon, [d[0] for d in rel.description], rel.fetchall())
            if got != cache[name]["digest"]:
                errors.append(f"{tag}/{name}: result differs from the DuckDB oracle")
    if con is not None:
        con.close()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return errors
