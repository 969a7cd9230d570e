"""The four workloads.  Each one generates its inputs from the seed in
``prepare``, runs one closed-loop iteration in ``run`` and checks that
iteration's outputs in ``check`` (a list of problems; empty = correct).

Why each workload exists:

* ``validate_counts``: the north-star path, ``run_validation`` without a
  sink.  The fused stats + row-level pass in ``operators.profile`` does
  most of the work; uniqueness and a registry too large to inline run
  as set-level counts (the latter on the broadcast anti-join path);
  sink, manifest and Arrow layers do none.
* ``validate_sink_resume``: the same suite over the ``(source, bucket)``
  directory-partitioned table, written through a fresh parquet
  ``TableProvider`` sink in two resumable steps.  Exercises violation-row
  materialisation, ``TableProvider.append``, the manifest, the resume
  worklist job and partition pruning, which workload 1 bypasses.
* ``setlevel_hotkeys``: set-level shuffles and joins with real key skew
  (10 hot ``doc_id``s) and a registry too large to inline, so the
  broadcast anti-join runs.  The token arrays are dropped, so the fused
  pass is light.
* ``operator_queries``: driver queries from ``__spark_entry__`` written
  to the ``noop`` sink: the training-data operators, the pandas/Arrow
  UDF boundary and compile-heavy driver time.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from perfbench import checks, inputs

#: rows of the sequences table at scale 1
SEQ_ROWS = 200_000
#: rows of the directory-partitioned table of ``validate_sink_resume``
SINK_ROWS = 20_000
#: rows of the shifted drift reference
REF_ROWS = 5_000
#: rows of the hot-key facts table at scale 1
HOT_ROWS = 100_000

#: driver queries of ``operator_queries``, in execution order: the
#: Arrow/pandas kernel (similarity), dedup, a persist-without-release
#: site (vocab), the warehouse aggregate whose ``count()`` plan skipped
#: its sums, and the compile-heavy header walk (multimodal)
QUERIES = ["ann_topk_pandas", "dedup_exact_groups", "vocab_drift",
           "pricing_summary", "wav_headers"]


def _no_span(name: str):
    return contextlib.nullcontext()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: float, n_cpus: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.scale, self.n_cpus = scale, n_cpus
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        #: facts about the generated inputs (rows, bytes), for the report
        self.facts: dict = {}
        #: rows one iteration validates (the seq/s numerator)
        self.rows = 0
        #: span context manager a traced run installs around each query
        self.around = None

    def prepare(self) -> None:
        raise NotImplementedError

    def run(self, i: int):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def cleanup(self, out) -> None:
        """Release what one iteration left behind (outside the timing)."""


def sequences_suite():
    """``bench.py``'s validation suite plus a drift constraint and a
    referential constraint against a large registry."""
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    return ValidationSuite(
        name="bench",
        components=[Component("n_tok", "numeric"),
                    Component("tokens_len", "numeric",
                              extractor="size(tokens)"),
                    Component("source", "categoric")],
        constraints=[
            Constraint("len_consistency", "expression",
                       {"sql": "tokens is null or size(tokens) = n_tok"}),
            Constraint("vocab_bounds", "expression",
                       {"sql": "tokens is null or (array_min(tokens) >= 0 "
                               "and array_max(tokens) < 50257)"}),
            Constraint("tokens_not_null", "not_null", {"component": "tokens"}),
            Constraint("unique_doc_id", "unique", {"keys": ["doc_id"]}),
            Constraint("source_allowed", "referential",
                       {"column": "source", "dim": "allowed_sources"}),
            # a registry above the runner's inline limit: the broadcast
            # anti-join counting path, not a folded isin
            Constraint("doc_registered", "referential",
                       {"column": "doc_id", "dim": "doc_registry"}),
            Constraint("drift", "drift", {}),
        ],
        partition_cols=["source", "bucket"],
    )


class _Sequences(Workload):
    partitioned = False
    size = SEQ_ROWS

    def prepare(self) -> None:
        from dataclasses import replace
        from data_validation_spark.sources.sequences import (
            ALLOWED_SOURCES, VOCAB_SIZE, allowed_sources_df)
        self.rows = max(2_000, int(self.size * self.scale))
        self.path = os.path.join(self.work, "sequences")
        registry = os.path.join(self.work, "doc_registry")
        table = inputs.write_sequences(self.path, self.rows, self.seed,
                                       self.partitioned, n_files=self.n_cpus)
        n_reg = inputs.write_doc_registry(registry, table, self.seed)
        suite = sequences_suite()
        self.suite = replace(suite, reference=inputs.reference_profile(
            self.spark, suite, os.path.join(self.work, "reference"),
            REF_ROWS, self.seed))
        self.dims = {"allowed_sources": allowed_sources_df(self.spark),
                     "doc_registry": self.spark.read.parquet(registry)}
        self.df = self.spark.read.parquet(self.path)
        self.expected = checks.expected_sequences(
            self.path, registry, self.tmp, ALLOWED_SOURCES, VOCAB_SIZE)
        self.facts = {"rows": self.rows,
                      "bytes": inputs.parquet_bytes(self.path),
                      "registry_rows": n_reg,
                      "partitions": len({p for p, _ in self.expected})}

    def _verdicts_ok(self, res, expected) -> list[str]:
        problems = checks.verdict_problems(res.verdicts, expected)
        if res.drift is None or not res.drift.drifted:
            problems.append("drift against the shifted reference "
                            "was not reported")
        return problems


class ValidateCounts(_Sequences):
    name = "validate_counts"

    def run(self, i: int):
        from data_validation_spark.plans.runner import run_validation
        return run_validation(self.spark, self.df, self.suite,
                              dims=self.dims, resume=False)

    def check(self, res) -> list[str]:
        return self._verdicts_ok(res, self.expected)


class ValidateSinkResume(_Sequences):
    name = "validate_sink_resume"
    partitioned = True
    size = SINK_ROWS

    def run(self, i: int):
        from pyspark.sql import functions as F
        from data_validation_spark.plans.runner import run_validation
        from data_validation_spark.sources.table_provider import TableProvider
        root = os.path.join(self.work, f"sink-{i}")
        sink = TableProvider(self.spark, root)
        # step 1: half the buckets (partition-pruned), as if the job died
        # half way; step 2: resume over the whole table
        first = run_validation(self.spark, self.df.where(F.col("bucket") < 4),
                               self.suite, sink=sink, dims=self.dims)
        second = run_validation(self.spark, self.df, self.suite, sink=sink,
                                dims=self.dims)
        return first, second, root

    def check(self, out) -> list[str]:
        first, second, root = out
        half = {k: n for k, n in self.expected.items()
                if k[0].endswith(("bucket=0", "bucket=1", "bucket=2",
                                  "bucket=3"))}
        rest = {k: n for k, n in self.expected.items() if k not in half}
        problems = [f"step 1: {p}" for p in self._verdicts_ok(first, half)]
        problems += [f"step 2: {p}" for p in self._verdicts_ok(second, rest)]
        if sorted(second.skipped_partitions) != sorted(first.partitions):
            problems.append("step 2 skipped partitions differ from the "
                            "partitions step 1 completed")
        problems += checks.sink_problems(root, self.suite.name, self.tmp,
                                         self.expected)
        return problems

    def cleanup(self, out) -> None:
        shutil.rmtree(out[2], ignore_errors=True)

    def sink_bytes(self, out) -> int:
        return inputs.parquet_bytes(out[2])


class SetlevelHotkeys(Workload):
    name = "setlevel_hotkeys"

    def prepare(self) -> None:
        from data_validation_spark.plans.suite import (
            Component, Constraint, ValidationSuite)
        self.rows = max(5_000, int(HOT_ROWS * self.scale))
        facts = os.path.join(self.work, "hotkeys")
        registry = os.path.join(self.work, "registry")
        n_reg = inputs.write_hotkeys(facts, registry, self.rows,
                                     self.seed, n_files=self.n_cpus)
        self.suite = ValidationSuite(
            name="hotkeys",
            components=[Component("n_tok", "numeric"),
                        Component("source", "categoric")],
            constraints=[
                Constraint("unique_doc_id", "unique", {"keys": ["doc_id"]}),
                Constraint("unique_source_parent", "unique",
                           {"keys": ["source", "parent_id"]}),
                Constraint("parent_registered", "referential",
                           {"column": "parent_id", "dim": "registry"}),
            ],
            partition_cols=["source", "bucket"],
        )
        self.df = self.spark.read.parquet(facts)
        self.dims = {"registry": self.spark.read.parquet(registry)}
        self.expected = checks.expected_hotkeys(facts, registry, self.tmp)
        self.facts = {"rows": self.rows, "bytes": inputs.parquet_bytes(facts),
                      "registry_rows": n_reg,
                      "partitions": len({p for p, _ in self.expected})}

    def run(self, i: int):
        from data_validation_spark.plans.runner import run_validation
        return run_validation(self.spark, self.df, self.suite,
                              dims=self.dims, resume=False)

    def check(self, res) -> list[str]:
        return checks.verdict_problems(res.verdicts, self.expected)


class OperatorQueries(Workload):
    name = "operator_queries"

    def prepare(self) -> None:
        import __spark_entry__
        self.queries = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        # the directory name must not be "sf0.01": queries switch to
        # their oracle scaffolding (files outside this run) there
        self.tables = os.path.join(self.work, "tables")
        counts = inputs.write_query_tables(self.tables, self.seed, self.scale)
        self.expected = {q: checks.oracle_digest(oracles[q], self.tables,
                                                 self.tmp)
                         for q in QUERIES}
        self.facts = {"rows": counts, "bytes": inputs.parquet_bytes(self.tables)}
        # the input rows the queries read, not validated rows
        self.rows = sum(counts.values())

    def run(self, i: int):
        """One pass over ``QUERIES``.  The first pass (a warm-up pass)
        collects every result, which ``check`` compares with the DuckDB
        oracle; later passes write to ``noop`` and return ``None``."""
        got = {}
        for name in QUERIES:
            # cached intermediates of the previous query must not turn
            # this one into a cache hit
            self.spark.catalog.clearCache()
            if i == 0:
                df = self.queries[name](self.spark, self.tables)
                got[name] = checks.digest([tuple(r) for r in df.collect()],
                                          df.columns)
                continue
            # building the query is timed too: eager analysis of every
            # DataFrame step is a large part of a driver query's cost
            with (self.around or _no_span)(f"query.{name}"):
                (self.queries[name](self.spark, self.tables)
                 .write.format("noop").mode("overwrite").save())
        self.spark.catalog.clearCache()
        return got or None

    def check(self, got) -> list[str]:
        if got is None:
            return []
        return [f"{q}: {p}" for q in QUERIES
                for p in checks.digest_problems(got[q], self.expected[q])]


WORKLOADS = {w.name: w for w in (ValidateCounts, ValidateSinkResume,
                                 SetlevelHotkeys, OperatorQueries)}
