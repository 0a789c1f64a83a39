"""Deterministic input generators for the benchmark.

Every input is a pure function of ``(kind, seed)``:

* ``corpus(kind, seed, root)`` writes a WAV tree plus a JSONL sidecar and a
  ``manifest.json`` describing what a correct run must produce;
* ``tables(seed, root)`` stages the sf 0.01 tables of the test data
  (bundled under ``data/``) with a seed-dependent row order.

Each input is staged once under a content key (generator version, kind and
seed) and the ``_DONE`` marker is written last, so a killed generation is
redone rather than reused.

The WAV samples follow ``graft.functions.Wav.synthPcmWavSeeded``: mono
16-bit PCM, sample ``i`` = ``((i + s) * 2654435761) mod 65536 - 32768``.
"""
import hashlib
import json
import os
import shutil
import struct

import numpy as np

GEN_VERSION = "6"
DONE = "_DONE"

# Per-workload corpus shapes. The duration/rate multiset is drawn once from a
# fixed generator and only its assignment to paths depends on the seed, so
# every seed presents exactly the same byte volume and file count.
SHAPES = {
    "large": dict(files=320, dirs=20, depth=2, secs=(2.0, 30.0),
                  rates=((16000, 0.7), (8000, 0.1), (22050, 0.1), (44100, 0.1)),
                  symlinks=0, dir_symlinks=0, non_audio=0, corrupt=0),
    "tiny": dict(files=40, dirs=6, depth=3, secs=(0.2, 2.0),
                 rates=((16000, 0.5), (8000, 0.5)),
                 symlinks=2, dir_symlinks=1, non_audio=3, corrupt=2),
    "small": dict(files=1000, dirs=100, depth=4, secs=(0.2, 1.0),
                  rates=((16000, 0.6), (8000, 0.4)),
                  symlinks=12, dir_symlinks=1, non_audio=20, corrupt=8),
}


def pcm_wav(rate, frames, s):
    i = np.arange(frames, dtype=np.int64) + s
    pcm = ((i * 2654435761) % 65536 - 32768).astype("<i2").tobytes()
    hdr = struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(pcm), b"WAVE",
                      b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16, b"data", len(pcm))
    return hdr + pcm


def corrupt_wav(rng):
    # passes the RIFF/WAVE magic sniff but has no fmt chunk: the parser must
    # report (0.0, 0) and the row is kept
    body = rng.integers(0, 256, 200, dtype=np.uint8).tobytes()
    return struct.pack("<4sI4s4sI", b"RIFF", 12 + len(body), b"WAVE",
                       b"LIST", len(body)) + body


def _shape_multiset(shape):
    rng = np.random.default_rng(12345)
    rates, weights = zip(*shape["rates"])
    picked = rng.choice(len(rates), size=shape["files"], p=weights)
    lo, hi = shape["secs"]
    secs = rng.uniform(lo, hi, size=shape["files"])
    return [(rates[k], int(s * rates[k])) for k, s in zip(picked, secs)]


def _dir_tree(rng, n, depth):
    dirs = []
    for k in range(n):
        d = rng.integers(1, depth + 1)
        parts = [f"g{rng.integers(0, 6)}" for _ in range(d - 1)] + [f"d{k:03d}"]
        dirs.append("/".join(parts))
    return dirs


# ---- metadata model -------------------------------------------------------
# Mirrors the reference lattice: JSON numbers vote Float64, booleans Bool,
# strings String, arrays List(inner); any other conflict widens to String.

def vote(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "Bool"
    if isinstance(v, (int, float)):
        return "Float64"
    if isinstance(v, str):
        return "String"
    if isinstance(v, list):
        inner = None
        for e in v:
            t = vote(e)
            if t is not None:
                inner = t if inner is None else merge(inner, t)
        return f"List({inner or 'String'})"
    return "String"


def merge(a, b):
    if a.startswith("List(") and b.startswith("List("):
        return f"List({merge(a[5:-1], b[5:-1])})"
    return a if a == b else "String"


def infer_types(rows):
    types = {}
    for r in rows:
        for k, v in r.items():
            t = vote(v)
            if t is not None:
                types[k] = t if k not in types else merge(types[k], t)
    for k in ("duration", "audio", "id", "file_name", "relative_path"):
        types.pop(k, None)
    types["transcription"] = "String"
    return dict(sorted(types.items()))


def json_text(v):
    """The text a String-typed column stores for a JSON value."""
    return v if isinstance(v, str) else json.dumps(v, separators=(",", ":"))


def convert(v, t):
    if v is None:
        return None
    if t == "String":
        return json_text(v)
    if t == "Bool":
        return v if isinstance(v, bool) else None
    if t == "Float64":
        return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None
    if isinstance(v, list):
        return [convert(e, t[5:-1]) for e in v]
    return None


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon_value(e) for e in v) + "]"
    return str(v)


def row_digest(path, content_sha, rate, duration, meta_vals):
    text = "\x1f".join([path, content_sha, str(int(rate)), repr(float(duration))]
                       + [canon_value(v) for v in meta_vals])
    return hashlib.sha256(text.encode()).hexdigest()


def set_checksum(digests):
    h = hashlib.sha256()
    for d in sorted(digests):
        h.update(d.encode())
    return h.hexdigest()


def _meta_values(rng, k, wide):
    row = {"transcription": f"utt {k} " + "ab"[k % 2] * int(rng.integers(1, 6))}
    if not wide:
        row["speaker"] = f"spk{rng.integers(0, 40)}"
        return row
    row["speaker"] = int(rng.integers(0, 500)) if rng.random() < 0.3 else f"spk{rng.integers(0, 40)}"
    row["score"] = int(rng.integers(0, 10)) if rng.random() < 0.5 else float(rng.integers(0, 400)) / 4
    row["verified"] = bool(rng.random() < 0.5)
    row["tags"] = [f"t{rng.integers(0, 9)}" for _ in range(int(rng.integers(0, 4)))]
    row["flag"] = bool(rng.random() < 0.5) if rng.random() < 0.5 else f"f{rng.integers(0, 3)}"
    return row


# ---- corpus ---------------------------------------------------------------

def corpus(kind, seed, root):
    """Stage the ``kind`` corpus for ``seed`` under ``root``; return its dir."""
    key = hashlib.sha256(f"corpus|{GEN_VERSION}|{kind}|{seed}".encode()).hexdigest()[:16]
    out = os.path.join(root, f"{kind}-{key}")
    if os.path.exists(os.path.join(out, DONE)):
        os.utime(os.path.join(out, DONE))
        return out
    shutil.rmtree(out, ignore_errors=True)
    shape = SHAPES[kind]
    rng = np.random.default_rng([seed, list(SHAPES).index(kind)])
    inp = os.path.join(out, "in")
    dirs = _dir_tree(rng, shape["dirs"], shape["depth"])
    for d in dirs:
        os.makedirs(os.path.join(inp, d), exist_ok=True)
    multiset = _shape_multiset(shape)
    order = rng.permutation(len(multiset))
    kept = []  # (relpath, rate, duration, sha256, size) of every file to keep
    rate_hist = {}
    total_bytes = 0
    files_listed = 0
    for n, idx in enumerate(order):
        rate, frames = multiset[idx]
        rel = f"{dirs[rng.integers(0, len(dirs))]}/f{n:06d}.wav"
        data = pcm_wav(rate, frames, int(rng.integers(0, 2**31)))
        with open(os.path.join(inp, rel), "wb") as f:
            f.write(data)
        kept.append((rel, rate, frames / rate, hashlib.sha256(data).hexdigest(), len(data)))
        rate_hist[str(rate)] = rate_hist.get(str(rate), 0) + 1
        total_bytes += len(data)
        files_listed += 1
    for n in range(shape["corrupt"]):
        rel = f"{dirs[rng.integers(0, len(dirs))]}/c{n:04d}.wav"
        data = corrupt_wav(rng)
        with open(os.path.join(inp, rel), "wb") as f:
            f.write(data)
        kept.append((rel, 0, 0.0, hashlib.sha256(data).hexdigest(), len(data)))
        total_bytes += len(data)
        files_listed += 1
    for n in range(shape["non_audio"]):  # dropped by the MIME sniff
        rel = f"{dirs[rng.integers(0, len(dirs))]}/x{n:04d}.wav"
        # a PDF header: random leading bytes could carry an MPEG frame sync
        data = b"%PDF-1.4\n" + rng.integers(0, 256, int(rng.integers(64, 4096)),
                                            dtype=np.uint8).tobytes()
        with open(os.path.join(inp, rel), "wb") as f:
            f.write(data)
        total_bytes += len(data)
        files_listed += 1
    real = [k[0] for k in kept]
    for n in range(shape["symlinks"]):  # file links below the root: dropped
        target = real[int(rng.integers(0, len(real)))]
        link = f"{dirs[rng.integers(0, len(dirs))]}/l{n:04d}.wav"
        os.symlink(os.path.relpath(os.path.join(inp, target),
                                   os.path.dirname(os.path.join(inp, link))),
                   os.path.join(inp, link))
        files_listed += 1
    for n in range(shape["dir_symlinks"]):  # a linked directory: all dropped
        target = dirs[int(rng.integers(0, len(dirs)))]
        os.symlink(os.path.join(inp, target), os.path.join(inp, f"linkdir{n}"))
        files_listed += sum(1 for _ in os.scandir(os.path.join(inp, target)))

    wide = kind != "large"
    sidecar, levels = [], {}
    for k, (rel, _, _, _, _) in enumerate(kept):
        name = rel.rsplit("/", 1)[-1]
        r = rng.random() if wide else 0.0
        vals = _meta_values(rng, k, wide)
        if r < 0.60:
            sidecar.append({"relative_path": rel, **vals})
            levels[rel] = (1, vals)
            if rng.random() < 0.05:  # shadowed: a level-1 match wins
                sidecar.append({"file_name": name, **_meta_values(rng, k, wide)})
            if rng.random() < 0.05:  # duplicate key: the first row wins
                sidecar.append({"relative_path": rel, **_meta_values(rng, k, wide)})
        elif r < 0.75:
            sidecar.append({"file_name": name, **vals})
            levels[rel] = (2, vals)
        elif r < 0.90:
            sidecar.append({"file_name": rel, **vals})
            levels[rel] = (3, vals)
    if wide:  # keyless rows still vote on column types
        sidecar += [_meta_values(rng, -n - 1, wide) for n in range(10)]
    with open(os.path.join(out, "meta.jsonl"), "w") as f:
        for row in sidecar:
            f.write(json.dumps(row) + "\n")

    types = infer_types(sidecar)
    keys = list(types)
    digests, expected, hits = [], [], {1: 0, 2: 0, 3: 0}
    for rel, rate, dur, sha, _ in kept:
        lvl, vals = levels.get(rel, (0, None))
        if lvl:
            hits[lvl] += 1
            meta = [convert(vals.get(k), types[k]) for k in keys]
            meta = [("-" if v is None else v) if k == "transcription" else v
                    for k, v in zip(keys, meta)]
        else:
            meta = ["-" if k == "transcription" else None for k in keys]
        digests.append(row_digest(rel, sha, rate, dur, meta))
        expected.append([rel, rate, dur, meta])
    manifest = {
        "kind": kind, "seed": seed, "gen_version": GEN_VERSION,
        "files": files_listed, "bytes": total_bytes,
        "audio_bytes": sum(k[4] for k in kept),
        "rate_histogram": dict(sorted(rate_hist.items())),
        "expected_kept": len(kept),
        "expected_meta_hits": {f"l{k}": v for k, v in hits.items()},
        "expected_parse_failures": shape["corrupt"],
        "meta_types": types,
        "checksum": set_checksum(digests),
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    with open(os.path.join(out, "expected.jsonl"), "w") as f:
        for row in expected:
            f.write(json.dumps(row) + "\n")
    with open(os.path.join(out, DONE), "w") as f:
        f.write(key)
    return out


def evict(root, prefix, keep):
    """Remove all but the ``keep`` most recently used ``prefix-*`` inputs."""
    if not os.path.isdir(root):
        return
    staged = []
    for name in os.listdir(root):
        if name.startswith(prefix + "-"):
            done = os.path.join(root, name, DONE)
            staged.append((os.path.getmtime(done) if os.path.exists(done) else 0, name))
    for _, name in sorted(staged, reverse=True)[keep:]:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


# ---- query tables ---------------------------------------------------------

# The sf 0.01 tables of the repository's test data (TESTDATA.md), copied unchanged.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def tables_key():
    """Content key of the bundled tables: what a correct query result depends
    on (the seed only reorders rows)."""
    h = hashlib.sha256(f"tables|{GEN_VERSION}".encode())
    for name in sorted(os.listdir(TABLES_DIR)):
        with open(os.path.join(TABLES_DIR, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def tables(seed, root):
    """Stage the query tables for ``seed`` under ``root``; return their dir.

    The contents are the bundled test tables; the seed only permutes the row
    order of every file, so each seed costs the same (iterative entries
    converge in a data-dependent number of rounds)."""
    import pyarrow.parquet as pq
    key = hashlib.sha256(f"{tables_key()}|{seed}".encode()).hexdigest()[:16]
    out = os.path.join(root, f"tables-{key}")
    if os.path.exists(os.path.join(out, DONE)):
        os.utime(os.path.join(out, DONE))
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    order = np.random.default_rng([seed, 3])
    for name in sorted(os.listdir(TABLES_DIR)):
        t = pq.read_table(os.path.join(TABLES_DIR, name))
        pq.write_table(t.take(order.permutation(t.num_rows)), os.path.join(out, name),
                       compression="snappy")
    with open(os.path.join(out, DONE), "w") as f:
        f.write(key)
    return out
