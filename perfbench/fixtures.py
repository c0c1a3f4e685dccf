"""Seeded input generation, cached on disk inside the checkout.

Each fixture lives in a directory named after a hash of its key (seed and
shape), built in a temporary directory and renamed into place, so a run
either finds a complete fixture or builds it.  Generation time is
reported on its own, never inside ``setup_s``."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: fixtures kept per family; older ones (other seeds) are deleted so the
#: cache does not grow with every seed that is run
KEEP_PER_FAMILY = 4


def _key_hash(key) -> str:
    return hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]


def cached(base: str, family: str, key, build) -> tuple[str, float]:
    """Return (directory, seconds spent generating it now; 0 when it was
    already on disk).  ``build(tmp_dir)`` fills a fresh directory."""
    os.makedirs(base, exist_ok=True)
    final = os.path.join(base, f"{family}-{_key_hash(key)}")
    if os.path.isdir(final):
        os.utime(final)
        return final, 0.0
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    build(tmp)
    with open(os.path.join(tmp, "_KEY.json"), "w") as f:
        json.dump(key, f, sort_keys=True)
    os.rename(tmp, final)
    elapsed = time.perf_counter() - t0
    others = sorted(
        (p for p in glob.glob(os.path.join(base, f"{family}-" + "[0-9a-f]" * 16)) if p != final),
        key=os.path.getmtime,
    )
    for old in others[: max(0, len(others) - (KEEP_PER_FAMILY - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return final, elapsed


def source_hash(package_dir: str) -> str:
    """Hash of the package's Python sources: keys fixtures the program
    itself writes (sidecars), so a changed program never reads a sidecar
    an older one wrote."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(package_dir, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, package_dir).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# meta-lookup: reference-shaped wide footers
# --------------------------------------------------------------------------

META_SHAPES = {
    # the reference metadata benchmark's shape (200 row groups x 400
    # float32 columns, no stats / dictionary / compression) with one-row
    # row groups so 24 files stay small on disk
    "full": {"files": 24, "row_groups": 200, "columns": 400},
    "smoke": {"files": 6, "row_groups": 12, "columns": 40},
}

#: the meta-lookup file set is one fixed dataset per shape; ``--seed``
#: draws the request stream over it.  Writing 24 reference-shaped files
#: costs more than a whole run, so they are not regenerated per seed.
META_DATA_SEED = 20240601


def meta_file_name(i: int) -> str:
    return f"f{i:03d}.parquet"


def build_meta_files(out: str, shape: dict) -> None:
    rng = np.random.default_rng(META_DATA_SEED)
    n, c = shape["row_groups"], shape["columns"]
    for i in range(shape["files"]):
        t = pa.table(
            {f"column_{j}": rng.random(n, dtype=np.float32) for j in range(c)}
        )
        pq.write_table(
            t, os.path.join(out, meta_file_name(i)), row_group_size=1,
            compression="NONE", use_dictionary=False, write_statistics=False,
        )


def control_files(base: str) -> tuple[str, str, float]:
    """The host-speed control's files, the same at every size so that
    normalized clocks share one scale: a small file of the reference
    layout (10 one-row row groups x 16 float32 columns) and one
    reference-shaped file.  Returns (small path, full path, seconds spent
    generating them now)."""
    paths, gen = [], 0.0
    for shape in ({"files": 1, "row_groups": 10, "columns": 16},
                  dict(META_SHAPES["full"], files=1)):
        d, g = cached(base, "control", {"shape": shape, "data_seed": META_DATA_SEED},
                      lambda out, shape=shape: build_meta_files(out, shape))
        paths.append(os.path.join(d, meta_file_name(0)))
        gen += g
    return paths[0], paths[1], gen


# --------------------------------------------------------------------------
# indexed-scan: a driver-local table and an executor-side catalog
# --------------------------------------------------------------------------

SCAN_SHAPES = {
    "full": {"files": 32, "row_groups": 32, "rows": 256, "catalog_files": 1024, "catalog_rows": 8},
    "smoke": {"files": 4, "row_groups": 8, "rows": 64, "catalog_files": 40, "catalog_rows": 4},
}

#: modulus of the interleaved column: values of neighbouring keys land far
#: apart, so every row group's min/max spans nearly the whole domain
IL_MOD = 100_003


def build_local_table(out: str, shape: dict, seed: int) -> None:
    """``k`` is a sorted key (min/max prune it); ``il`` interleaves across
    row groups (min/max keep everything, dictionaries prune); ``x`` is a
    payload."""
    rng = np.random.default_rng([seed, 1])
    mult = int(rng.integers(1000, 9000)) * 2 + 1
    per_file = shape["row_groups"] * shape["rows"]
    for f in range(shape["files"]):
        k = np.arange(f * per_file, (f + 1) * per_file, dtype=np.int64)
        t = pa.table({
            "k": k,
            "il": (k * mult) % IL_MOD,
            "x": rng.random(per_file),
        })
        pq.write_table(
            t, os.path.join(out, f"part-{f:03d}.parquet"),
            row_group_size=shape["rows"], write_page_index=True,
        )


def catalog_file(catalog_dir: str, i: int) -> str:
    return os.path.join(catalog_dir, f"part-{i:05d}.parquet")


def catalog_table(ids: np.ndarray, rng) -> pa.Table:
    return pa.table({"id": ids.astype(np.int64), "v": rng.random(len(ids))})


def build_catalog(out: str, shape: dict, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    r = shape["catalog_rows"]
    for i in range(shape["catalog_files"]):
        pq.write_table(catalog_table(np.arange(i * r, (i + 1) * r), rng), catalog_file(out, i))


# --------------------------------------------------------------------------
# pipeline-mix: the star-schema and LLM tables the six queries read
# --------------------------------------------------------------------------

PIPE_SHAPES = {
    # row counts of the sf0.01 test tables (TESTDATA.md)
    "full": {"documents": 500, "events": 10_000, "orders": 15_000, "lineitem": 60_000,
             "customers": 1_500, "suppliers": 100, "parts": 2_000, "users": 150},
    "smoke": {"documents": 80, "events": 1_500, "orders": 1_500, "lineitem": 6_000,
              "customers": 150, "suppliers": 20, "parts": 200, "users": 20},
}

_WORDS = (
    "a the data table query scan filter join hash sort merge window stream "
    "batch key value row column part line customer order fast slow big small "
    "spark agg group vector index page footer schema"
).split()


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: MinHash-LSH must find it
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [["en", "de", "fr", "es", "zh"][j] for j in rng.integers(0, 5, n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64) + 1
    ts = start + np.cumsum(gaps)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": [["click", "view", "purchase", "signup", "error"][j] for j in rng.integers(0, 5, n)],
        "value": np.round(rng.random(n) * 490 + 0.01, 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
    })


def _orders(rng, shape: dict) -> pa.Table:
    n = shape["orders"]
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    days = day0 + rng.integers(0, 2400, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, shape["customers"], n).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.random(n) * 499_000 + 1000, 2),
        "o_orderdate": pa.array(days * 86_400_000_000, type=pa.timestamp("us")),
        "o_orderpriority": [
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][j]
            for j in rng.integers(0, 5, n)
        ],
    })


def _lineitem(rng, shape: dict) -> pa.Table:
    n = shape["lineitem"]
    day0 = np.datetime64("1995-01-02", "D").astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, shape["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, shape["parts"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, shape["suppliers"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (rng.random(n) * 2000 + 900), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, n)],
        "l_shipdate": pa.array((day0 + rng.integers(0, 2500, n)) * 86_400_000_000, type=pa.timestamp("us")),
    })


#: tables the six pipeline queries read
PIPE_TABLES = ("documents", "events", "orders", "lineitem")


def build_pipeline_tables(out: str, shape: dict, seed: int) -> None:
    rng = np.random.default_rng([seed, 3])
    tables = {
        "documents": _documents(rng, shape["documents"]),
        "events": _events(rng, shape["events"], shape["users"]),
        "orders": _orders(rng, shape),
        "lineitem": _lineitem(rng, shape),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
