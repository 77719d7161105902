"""Seeded benchmark inputs, staged once per (generator version, seed, sizes).

Every staged directory carries a ``manifest.json`` with the row count and a
SHA-256 of every file. A cached directory is reused only after both are
re-verified; anything else is restaged. Staging time is reported by the
caller apart from set-up time.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Bump when a staged format or generator formula changes: old cache entries
# then stop matching and are restaged.
GEN_VERSION = 1
# Keep at most this many staged entries per kind (enough for ten seeds of
# both workloads, whose logs share a kind); older ones are pruned.
CACHE_KEEP = 24

SEQ_FIELDS = [
    ("doc_id", "string"),
    ("tokens", "array<int>"),
    ("n_tok", "int"),
    ("source", "string"),
]

CSV_FIELDS = [
    ("doc_id", "string"),
    ("version", "bigint"),
    ("score", "double"),
    ("active", "boolean"),
    ("updated_at", "timestamp"),
    ("source", "string"),
    ("tokens", "string"),
]
CSV_TYPES = ["string", "long", "double", "boolean", "date", "string", "string"]
CSV_TS_FORMAT = "yyyy-MM-dd HH:mm:ss"


def _digest(d: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in sorted(files):
            if fn == "manifest.json":
                continue
            p = os.path.join(root, fn)
            h = hashlib.sha256()
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            out[os.path.relpath(p, d)] = h.hexdigest()
    return out


def _verified(d: str, count_rows) -> dict | None:
    """The manifest when the directory's files and row counts still match it."""
    mpath = os.path.join(d, "manifest.json")
    try:
        with open(mpath) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    if _digest(d) != man.get("sha256"):
        return None
    if count_rows(d) != man.get("rows"):
        return None
    return man


def _prune(cache_root: str, prefix: str, keep_key: str) -> None:
    entries = sorted(
        (e for e in os.listdir(cache_root)
         if e.startswith(prefix) and e != keep_key),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
    )
    for e in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


def _cached(cache_root: str, key: str, count_rows, build) -> tuple[dict, bool]:
    """Reuse a verified entry or (re)build it. Returns (manifest, hit)."""
    os.makedirs(cache_root, exist_ok=True)
    d = os.path.join(cache_root, key)
    man = _verified(d, count_rows)
    if man is not None:
        os.utime(d)
        return man, True
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    man = build(tmp)
    man["rows"] = count_rows(tmp)
    man["sha256"] = _digest(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    os.replace(tmp, d)
    _prune(cache_root, key.split("-s")[0], key)
    return man, False


def _parquet_rows(d: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return n


def stage_changelog(
    spark, cache_root: str, seed: int, n_docs: int, n_events: int, n_parts: int
) -> tuple[str, dict, float, bool]:
    """Changelog (binary payloads) plus the seed table it applies to, both
    generated from ``seed``. Returns (dir, manifest, seconds, cache_hit)."""
    from tg_data_connector_spark.cdc import gen_seed_sequences
    from tg_data_connector_spark.cdc.genlog import gen_changelog_payload_fast

    key = f"log-v{GEN_VERSION}-s{seed}-d{n_docs}-e{n_events}-p{n_parts}"

    def build(tmp: str) -> dict:
        gen_changelog_payload_fast(
            spark, n_events, n_docs, n_parts=n_parts, seed=seed
        ).write.parquet(f"{tmp}/log")
        gen_seed_sequences(spark, n_docs, seed=seed).write.parquet(f"{tmp}/seed")
        return {"seed": seed, "n_docs": n_docs, "n_events": n_events,
                "n_parts": n_parts}

    t0 = time.perf_counter()
    man, hit = _cached(cache_root, key, _parquet_rows, build)
    return os.path.join(cache_root, key), man, time.perf_counter() - t0, hit


def csv_rows(seed: int, load: int, part: int, rows: int) -> pa.Table:
    """One CSV object's rows; keys are unique across every (load, part)."""
    rng = np.random.default_rng([seed, load, part])
    base = (load * 1_000 + part) * rows
    ids = pa.array(np.arange(base, base + rows, dtype=np.int64))
    n_tok = rng.integers(4, 40, rows)
    offs = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offs[1:])
    toks = pa.ListArray.from_arrays(
        pa.array(offs),
        # token ids skewed like a vocabulary, so the text compresses as
        # real text does rather than as random digits
        pc.cast(pa.array((rng.zipf(1.3, int(offs[-1])) - 1) % 50_000),
                pa.string()),
    )
    secs = pa.array(
        rng.integers(1_600_000_000, 1_700_000_000, rows), pa.timestamp("s")
    )
    return pa.table({
        "doc_id": pc.binary_join_element_wise(
            "c", pc.utf8_lpad(pc.cast(ids, pa.string()), 10, "0"), ""
        ),
        "version": pa.array(rng.integers(0, 1 << 40, rows)),
        "score": pa.array(np.round(rng.random(rows) * 1000, 3)),
        "active": pa.array(rng.random(rows) < 0.7),
        "updated_at": pc.strftime(secs, "%Y-%m-%d %H:%M:%S"),
        "source": pc.binary_join_element_wise(
            "src_", pc.cast(pa.array(np.arange(base, base + rows) % 10), pa.string()), ""
        ),
        "tokens": pc.binary_join(toks, " "),
    })


def csv_bytes(t: pa.Table) -> bytes:
    buf = io.BytesIO()
    pacsv.write_csv(
        t, buf,
        pacsv.WriteOptions(include_header=False, quoting_style="none"),
    )
    return buf.getvalue()


def hadoop_snappy(spark, src: str, dst: str) -> None:
    """Compress ``src`` into ``dst`` with Hadoop's SnappyCodec, whose block
    stream frames chunks compressed by the xerial snappy-java bundled with
    Spark. The bytes stay in the JVM; only the paths cross py4j."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    codec = jvm.org.apache.hadoop.io.compress.SnappyCodec()
    codec.setConf(conf)
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw()
    path = jvm.org.apache.hadoop.fs.Path
    out = codec.createOutputStream(fs.create(path(dst), True))
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(fs.open(path(src)), out, 1 << 16, True)


def _csv_rows_in(d: str) -> int:
    man_rows = 0
    with open(os.path.join(d, "rows.json")) as f:
        counts = json.load(f)
    for rel, n in counts.items():
        if not os.path.exists(os.path.join(d, rel)):
            return -1
        man_rows += n
    return man_rows


def stage_csv(
    spark, cache_root: str, seed: int, loads: int, files_per_load: int,
    rows_per_file: int,
) -> tuple[str, dict, float, bool]:
    """``loads`` directories of ``files_per_load`` Hadoop-snappy CSV objects.
    The manifest records the uncompressed and compressed MB."""
    key = (f"csv-v{GEN_VERSION}-s{seed}-l{loads}-f{files_per_load}"
           f"-r{rows_per_file}")

    def build(tmp: str) -> dict:
        counts, raw_mb, comp_mb = {}, 0.0, 0.0
        raw_path = f"{tmp}/.raw.csv"
        for load in range(loads):
            os.makedirs(f"{tmp}/load-{load:03d}")
            for part in range(files_per_load):
                raw = csv_bytes(csv_rows(seed, load, part, rows_per_file))
                with open(raw_path, "wb") as f:
                    f.write(raw)
                rel = f"load-{load:03d}/part-{part:03d}.snappy"
                hadoop_snappy(spark, raw_path, f"{tmp}/{rel}")
                counts[rel] = rows_per_file
                raw_mb += len(raw) / 1e6
                comp_mb += os.path.getsize(f"{tmp}/{rel}") / 1e6
        os.remove(raw_path)
        with open(f"{tmp}/rows.json", "w") as f:
            json.dump(counts, f)
        return {"seed": seed, "loads": loads, "files_per_load": files_per_load,
                "rows_per_file": rows_per_file, "raw_mb": raw_mb,
                "comp_mb": comp_mb}

    t0 = time.perf_counter()
    man, hit = _cached(cache_root, key, _csv_rows_in, build)
    return os.path.join(cache_root, key), man, time.perf_counter() - t0, hit
