"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``seed`` and the requested size: the
same seed writes the same rows.  The engine only ever sees the parquet
files written here (and DataFrames read back from them), never the seed.
Generation runs in this process with numpy and pyarrow, not through
Spark: a Spark-side generator would cost each run a Python-worker
start and a cold write job, which the benchmark's time budget cannot
spare.

* sequences: the engine's own per-batch generator
  (``sources.sequences._gen_batch``, the function ``synth_sequences``
  maps over Arrow batches), plus a ``bucket`` column; written as one
  flat parquet table or in the ``(source, bucket)`` directory layout.
* doc registry: the known ``doc_id``s of the sequences table, a seeded
  ~2% left out, and larger than the runner's inline referential limit.
* hot-key facts: the same rows with the token arrays dropped, a seeded
  ~1% of rows collapsed onto 10 hot ``doc_id``s, and a ``parent_id``
  whose registry is larger than the runner's inline referential limit.
* driver-query tables: TPC-H-shaped ``lineitem``/``orders``/``customer``
  plus ``documents``/``embeddings`` with the columns
  ``__spark_entry__.queries()`` reads.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

#: the runner folds referential checks against at most this many
#: distinct dimension values into the fused pass; the registries are
#: kept above it so the broadcast anti-join path is what runs
RUNNER_INLINE_REF_MAX = 10_000
N_HOT_KEYS = 10
_BATCH = 10_000

SEQUENCES_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()), ("source", pa.string()), ("bucket", pa.int32())])


def parquet_bytes(path: str) -> int:
    """Bytes of the ``*.parquet`` data files under the directory ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def sequences(n_rows: int, seed: int, shift: bool = False) -> pa.Table:
    """The sequences table (FIXTURES.md section 1) with a ``bucket``
    column hashed from the row's document number, so an injected
    duplicate ``doc_id`` lands in the same bucket as its original."""
    from data_validation_spark.sources.sequences import _gen_batch

    def batch(lo: int) -> pa.Table:
        ids = np.arange(lo, min(n_rows, lo + _BATCH), dtype=np.int64)
        pdf = _gen_batch(ids, seed, shift)
        num = pdf["doc_id"].str.slice(4).astype(np.int64).to_numpy()
        # top 3 bits of a multiplicative hash: the engine's 8 buckets
        pdf["bucket"] = (((num * 2654435761) % 2**32) >> 29).astype(np.int32)
        return pa.Table.from_pandas(pdf, schema=SEQUENCES_SCHEMA,
                                    preserve_index=False)

    # batches are independent and numpy releases the GIL for most of
    # the work; map keeps them in order, so the table does not depend
    # on the thread count
    with ThreadPoolExecutor(_threads()) as pool:
        return pa.concat_tables(pool.map(batch, range(0, n_rows, _BATCH)))


def write_sequences(path: str, n_rows: int, seed: int, partitioned: bool,
                    n_files: int) -> pa.Table:
    """Flat parquet in ``n_files`` files, or the ``(source, bucket)``
    directory layout of ``sources.sequences.write_sequences_table`` (the
    Iceberg stand-in).  Returns the table written."""
    table = sequences(n_rows, seed)
    if partitioned:
        ds.write_dataset(table, path, format="parquet",
                         partitioning=["source", "bucket"],
                         partitioning_flavor="hive")
        return table
    _write_files(table, path, n_files)
    return table


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)

    def write(k: int) -> None:
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))

    with ThreadPoolExecutor(_threads()) as pool:
        list(pool.map(write, range(n_files)))


def _threads() -> int:
    return len(os.sched_getaffinity(0))


def write_doc_registry(path: str, table: pa.Table, seed: int) -> int:
    """Registry of known ``doc_id``s: the table's distinct ids minus a
    seeded ~2%, padded with ids the table never uses so that it always
    holds more values than the runner inlines.  Returns its size."""
    rng = np.random.default_rng([seed, 5])
    ids = np.unique(table.column("doc_id").to_numpy(zero_copy_only=False)
                    .astype(str))
    ids = ids[rng.random(len(ids)) >= 0.02]
    n_pad = max(0, RUNNER_INLINE_REF_MAX + 2_000 - len(ids))
    pad = np.char.add("pad-", np.arange(n_pad).astype("U12"))
    registry = np.concatenate([ids, pad])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": registry}),
                   os.path.join(path, "part-00000.parquet"))
    return len(registry)


def reference_profile(spark, suite, path: str, n_rows: int, seed: int):
    """Frozen drift reference: the engine's profile of the *shifted*
    generator, so the unshifted input must be reported as drifted."""
    from data_validation_spark.operators.profile import build_profile
    _write_files(sequences(n_rows, seed, shift=True), path, 1)
    return build_profile(spark.read.parquet(path), suite.components,
                         suite.partition_cols, name=suite.name)


def write_hotkeys(facts_path: str, registry_path: str, n_rows: int,
                  seed: int, n_files: int) -> int:
    """Hot-key facts + parent registry; returns the registry size."""
    rng = np.random.default_rng([seed, 3])
    t = sequences(n_rows, seed).drop(["tokens"])
    doc_id = t.column("doc_id").to_numpy(zero_copy_only=False).astype(object)
    hot = rng.random(n_rows) < 0.01
    doc_id[hot] = [f"hot-{k}" for k in rng.integers(0, N_HOT_KEYS, hot.sum())]
    n_parents = max(RUNNER_INLINE_REF_MAX + 2_000, n_rows)
    n_registered = n_parents - n_parents // 50
    parent = np.char.add("par-", rng.integers(0, n_parents, n_rows)
                         .astype("U12"))
    facts = t.set_column(0, "doc_id", pa.array(doc_id, pa.string())) \
        .append_column("parent_id", pa.array(parent, pa.string()))
    _write_files(facts, facts_path, n_files)
    os.makedirs(registry_path, exist_ok=True)
    registry = np.char.add("par-", np.arange(n_registered).astype("U12"))
    pq.write_table(pa.table({"parent_id": registry}),
                   os.path.join(registry_path, "part-00000.parquet"))
    return n_registered


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch record index").split()


def write_query_tables(out_dir: str, seed: int, scale: float) -> dict:
    """The five tables the benchmark's driver queries read; returns
    ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_docs = max(50, int(5_000 * scale))
    n_vecs = max(50, int(5_000 * scale))
    n_cust = max(30, int(1_500 * scale))
    n_orders = max(100, int(15_000 * scale))
    n_lines = max(400, int(60_000 * scale))

    lens = rng.integers(8, 91, n_docs)
    texts = [" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), m))
             for m in lens]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + 1.5 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })

    def days(n: int, span: int) -> pa.Array:
        d = np.datetime64("1995-01-01") + rng.integers(0, span, n) \
            .astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"))

    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_orders), 2),
        "o_orderdate": days(n_orders, 2_400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"],
                                      n_orders),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": days(n_lines, 2_500),
    })
    tables = {"documents": documents, "embeddings": embeddings,
              "customer": customer, "orders": orders, "lineitem": lineitem}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
