"""Seeded benchmark inputs, cached on disk under the benchmark's work
directory.

Each cache entry is keyed on every generator parameter (kind, seed,
parts, rows, dims) and on a hash of the generator's source files, so a
resized or re-seeded fixture, or a changed generator, never reuses stale
data. An entry is complete only once its marker file exists; a
half-written entry is removed and rebuilt.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
MARKER = "_BENCH_FIXTURE_COMPLETE"
HISTORY_SEED = 0  # seed of the partitions every seed shares (images(history=...))


def engine_hash() -> str:
    """SHA-256 over the engine package's Python sources."""
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "advanced_data_profile_spark")
    for d, _, names in sorted(os.walk(pkg)):
        for name in sorted(names):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    return digest.hexdigest()


def _source_hash(modules) -> str:
    h = hashlib.sha256()
    for m in modules:
        with open(inspect.getsourcefile(m), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cache_key(kind: str, modules, **params) -> str:
    blob = json.dumps(
        {"kind": kind, "source": _source_hash(modules), **params}, sort_keys=True
    )
    return f"{kind}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def is_cached(key: str) -> bool:
    return os.path.exists(os.path.join(WORK, "fixtures", key, MARKER))


def cached(key: str, build) -> str:
    """Path of the cache entry `key`, building it with build(tmp_path)
    when absent."""
    path = os.path.join(WORK, "fixtures", key)
    if is_cached(key):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, MARKER), "w") as f:
        f.write("ok\n")
    os.rename(tmp, path)
    return path


def images(seed: int, parts: int, rows: int, dims: tuple[int, ...], history: int = 0) -> str:
    """Hive-partitioned images table (`part_id=K/` directories of
    uncompressed parquet, the layout sources.images.write_images makes);
    returns the table directory. Rows come from the engine's own row
    generator, sources.images._gen_row, called in this process: the same
    rows generate_images makes, without starting Spark. Partitions below
    `history` are generated from HISTORY_SEED whatever `seed` is, so every
    seed shares them; partitions at and above it from `seed`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from advanced_data_profile_spark.functions import imagecodec
    from advanced_data_profile_spark.sources import images as src

    key = cache_key(
        "images", [src, imagecodec], seed=seed, parts=parts, rows=rows, dims=list(dims),
        history=history, history_seed=HISTORY_SEED,
    )
    schema = pa.schema([
        pa.field("image_id", pa.string(), nullable=False), ("bytes", pa.binary()),
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
    ])

    def build(tmp: str) -> None:
        for p in range(parts):
            s = HISTORY_SEED if p < history else seed
            batch = [src._gen_row(s, p, i, parts, dims) for i in range(rows)]
            d = os.path.join(tmp, "table", f"part_id={p}")
            os.makedirs(d)
            pq.write_table(
                pa.Table.from_pylist(batch, schema=schema),
                os.path.join(d, "part-00000.parquet"), compression="none",
            )

    return os.path.join(cached(key, build), "table")


def image_subset(table: str, part_ids: list[int]) -> str:
    """A copy of `table` holding only the given partitions (the table as
    it stood before the later partitions arrived)."""
    key = cache_key("subset", [], table=table, parts=sorted(part_ids))

    def build(tmp: str) -> None:
        for p in part_ids:
            shutil.copytree(
                os.path.join(table, f"part_id={p}"), os.path.join(tmp, "table", f"part_id={p}")
            )

    return os.path.join(cached(key, build), "table")


PROFILE_COLUMNS = (
    ("id_str", "string"), ("count_int", "bigint"), ("ratio_float", "double"),
    ("int_as_float", "double"), ("event_date", "string"), ("event_ts", "string"),
    ("category", "string"), ("sparse_col", "double"), ("all_null", "string"),
    ("skewed_num", "double"), ("pace_like", "string"),
)

# logical type each column must be inferred as (FIXTURES.md section 2)
PROFILE_TYPES = {
    "id_str": "string", "count_int": "integer", "ratio_float": "double",
    "int_as_float": "integer", "event_date": "date", "event_ts": "timestamp",
    "category": "string", "sparse_col": "double", "all_null": "empty",
    "skewed_num": "double", "pace_like": "timestamp",
}


def profile_frame(seed: int, rows: int) -> pd.DataFrame:
    """The 11-column profiler_parity table: unique ids, 5-value
    categories, date and timestamp strings, integral floats, a sparse
    column, an all-null column and a column with planted outliers."""
    rng = np.random.default_rng(seed)
    dates = pd.Timestamp("2023-01-01") + pd.to_timedelta(
        rng.integers(0, 3 * 365, rows), unit="D"
    )
    secs = pd.to_timedelta(rng.integers(1, 86400, rows), unit="s")
    ratio = rng.normal(0, 1, rows)
    ratio[::7] = np.round(ratio[::7], 2)
    sparse = rng.normal(10, 2, rows)
    sparse[rng.random(rows) < 0.4] = np.nan
    skewed = np.exp(rng.normal(0, 1, rows))
    skewed[rng.integers(0, rows, max(1, rows // 200))] = 1e5
    return pd.DataFrame({
        "id_str": [f"row-{seed % 1000:03d}-{i:07d}" for i in range(rows)],
        "count_int": rng.integers(0, 1000, rows),
        "ratio_float": ratio,
        "int_as_float": rng.integers(0, 50, rows).astype(float),
        "event_date": dates.strftime("%Y-%m-%d"),
        "event_ts": (dates + secs).strftime("%Y-%m-%d %H:%M:%S"),
        "category": rng.choice(["a", "b", "c", "d", "e"], rows),
        "sparse_col": sparse,
        "all_null": pd.Series([None] * rows, dtype=object),
        "skewed_num": skewed,
        "pace_like": [f"{a}:{b:02d}" for a, b in zip(
            rng.integers(4, 8, rows), rng.integers(10, 59, rows)
        )],
    })


def profile_table(seed: int, rows: int) -> str:
    """The profiler_parity frame written as one parquet file; returns the
    table directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = cache_key("profile", [inspect.getmodule(profile_frame)], seed=seed, rows=rows)
    types = {"string": pa.string(), "bigint": pa.int64(), "double": pa.float64()}
    schema = pa.schema([(c, types[t]) for c, t in PROFILE_COLUMNS])

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "table"))
        table = pa.Table.from_pandas(profile_frame(seed, rows), schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, "table", "part-0.parquet"))

    return os.path.join(cached(key, build), "table")
