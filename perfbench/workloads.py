"""The two seeded token-table workloads and the output checks of each.

A workload writes its Parquet inputs once per set-up, then each iteration
makes a fixed sequence of public calls on a fresh ``spark.read`` inside an
``operator_cache_scope()``. Every call goes through ``Calls.call``, which
times it (and traces it in a traced iteration); every output check goes
through ``Calls.expect``. A call that raises or fails a check counts once
into ``Calls.failed``.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

from pyspark.sql import functions as F

import pandera_unified_validator_spark as puv
from pandera_unified_validator_spark.operators.token_ops import (
    duplicated_ngram_coverage,
    materialize_packed_bins,
    pack_sequences,
    remove_duplicated_spans,
)
from pandera_unified_validator_spark.utils.cache import registry as cache_registry
from pandera_unified_validator_spark.tokens import (
    VOCAB_SIZE,
    expected_dirty_counts,
    source_dim,
    token_schema,
    token_table,
)


class CallFailed(Exception):
    """A timed call raised; the rest of its iteration is abandoned."""


class Calls:
    """Times, traces and checks the public calls of one run."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.traced = False          # set per iteration by the run loop
        self.iteration = 0
        self.attempted = 0
        self.failed_calls: set[tuple[int, str]] = set()
        self.problems: list[str] = []
        self.walls: dict[str, float] = {}   # this iteration's call walls

    @property
    def failed(self) -> int:
        return len(self.failed_calls)

    def call(self, span: str, fn):
        self.attempted += 1
        ctx = (
            self.tracer.span(span, f"iteration-{self.iteration}")
            if self.traced
            else nullcontext()
        )
        t0 = time.perf_counter()
        try:
            with ctx:
                out = fn()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self._fail(span, f"raised {type(e).__name__}: {e}")
            raise CallFailed(span) from e
        self.walls[span] = time.perf_counter() - t0
        return out

    def expect(self, span: str, ok: bool, what: str) -> None:
        if not ok:
            self._fail(span, what)

    def _fail(self, span: str, what: str) -> None:
        self.failed_calls.add((self.iteration, span))
        if len(self.problems) < 20:
            self.problems.append(f"iteration {self.iteration} {span}: {what}")


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _validator(spark, **kw):
    return puv.SparkValidator(
        token_schema(),
        ref_checks={"source": source_dim(spark)},
        key_columns=("doc_id",),
        **kw,
    )


class _Kill(Exception):
    """Raised from the progress callback to stop a run half-way."""


class TableAudit:
    """Audit of one dirty token table: validate → violations() write →
    profile → n_tok and token-frequency drift against a clean baseline of
    another seed, then a PartitionedValidationRunner run over the table's
    files from an empty checkpoint, a run killed half-way, and its resume."""

    name = "table_audit"
    WARMUPS = 1   # untimed iterations before measuring (JIT, codegen caches)
    spans = (
        "validator.validate",
        "validator.violations_write",
        "profiler.profile",
        "drift.numeric_drift",
        "drift.token_frequency_drift",
        "runner.run_cold",
        "runner.run_killed",
        "runner.run_resume",
    )

    def __init__(
        self, seed: int, work: str, *, rows: int, baseline_rows: int, files: int,
        files_per_group: int,
    ) -> None:
        self.seed, self.rows, self.baseline_rows = seed, rows, baseline_rows
        self.files, self.files_per_group = files, files_per_group
        self.groups = -(-files // files_per_group)
        self.dirty = os.path.join(work, "dirty")
        self.baseline = os.path.join(work, "baseline")
        self.violations = os.path.join(work, "violations")
        self.ck_cold = os.path.join(work, "ck_cold")
        self.ck_killed = os.path.join(work, "ck_killed")
        self.expected = expected_dirty_counts(rows)
        self._drift: tuple | None = None
        self.group_walls: list[float] = []   # traced cold runs only
        self.last_resumed = self.last_finished = 0

    def setup(self, spark) -> None:
        # one file per range partition: each runner group is a contiguous
        # doc range below the validator's 32 MB fast path
        _write(
            token_table(
                spark, self.rows, dirty=True, seed=self.seed, num_partitions=self.files
            ),
            self.dirty,
        )
        _write(
            token_table(spark, self.baseline_rows, seed=self.seed + 1), self.baseline
        )
        # keep the whole-table unique check on the eager dup-key tier (the
        # path of any table above the default 32 MB fast path) at a size
        # that fits the run: the threshold sits well below the table's bytes
        self.stats_broadcast_bytes = _parquet_bytes(self.dirty) // 4

    def iterate(self, spark, calls: Calls) -> None:
        self._audit(spark, calls)
        self._resume(spark, calls)

    def _audit(self, spark, calls: Calls) -> None:
        df = spark.read.parquet(self.dirty)
        base = spark.read.parquet(self.baseline)
        v = _validator(spark, stats_broadcast_bytes=self.stats_broadcast_bytes)
        res = calls.call("validator.validate", lambda: v.validate(df))
        rep = res.report
        fails = {c.name: c.n_failed for c in rep.checks}
        span = "validator.validate"
        calls.expect(span, rep.n_rows == self.rows, f"n_rows {rep.n_rows} != {self.rows}")
        for k, want in self.expected.items():
            calls.expect(span, fails.get(k) == want, f"{k} {fails.get(k)} != {want}")
        calls.expect(
            span,
            fails.get("source__referential") == fails.get("source__isin"),
            "source__referential != source__isin",
        )
        calls.expect(
            span,
            "SparkValidator.dup_keys.doc_id__unique" in cache_registry.labels(),
            "unique check did not take the eager dup-key tier",
        )

        calls.call(
            "validator.violations_write",
            lambda: _write(res.violations(), self.violations),
        )
        n_viol = spark.read.parquet(self.violations).count()
        calls.expect(
            "validator.violations_write",
            n_viol == rep.n_invalid_rows,
            f"{n_viol} violation rows read back != n_invalid_rows {rep.n_invalid_rows}",
        )

        prof = calls.call("profiler.profile", lambda: puv.DataProfiler().profile(df))
        calls.expect("profiler.profile", prof.n_rows == self.rows, f"profile n {prof.n_rows}")
        miss = prof.columns["doc_id"].n_missing
        want_miss = self.expected["doc_id__not_null"]
        calls.expect("profiler.profile", miss == want_miss, f"doc_id missing {miss} != {want_miss}")

        nd = calls.call(
            "drift.numeric_drift", lambda: puv.numeric_drift(base, df, "n_tok")
        )
        td = calls.call(
            "drift.token_frequency_drift", lambda: puv.token_frequency_drift(base, df)
        )
        drift = (nd.psi, nd.chi_square, td.psi, td.chi_square)
        if self._drift is None:
            self._drift = drift
        calls.expect(
            "drift.token_frequency_drift",
            drift == self._drift,
            "drift PSI / chi-square differ from the first iteration",
        )

    def derived(self, tracer) -> dict[str, float]:
        """Per-layer numbers derived from this run's spans and callbacks."""
        cold = tracer.of("runner.run_cold")
        out = {
            "runner.group.wall_s": statistics.median(self.group_walls)
            if self.group_walls else 0,
            "runner.jobs_per_group": statistics.median(s["jobs"] for s in cold) / self.groups
            if cold else 0,
            "runner.resume_skip_ratio": self.last_resumed / self.last_finished
            if self.last_finished else 0,
        }
        for span in ("validator.validate", "profiler.profile"):
            records = [s["input_records"] for s in tracer.of(span)]
            out[f"{span}.input_passes"] = (
                statistics.median(records) / self.rows if records else 0
            )
        return out

    def _runner(self, spark, ck: str, callback=None):
        return puv.PartitionedValidationRunner(
            _validator(spark),
            checkpoint_dir=ck,
            files_per_group=self.files_per_group,
            progress_callback=callback,
        )

    def _resume(self, spark, calls: Calls) -> None:
        for ck in (self.ck_cold, self.ck_killed):
            shutil.rmtree(ck, ignore_errors=True)

        ticks = [0.0]

        def on_group(i, n, metrics):
            now = time.perf_counter()
            if calls.traced:
                self.group_walls.append(now - ticks[0])
            ticks[0] = now

        def cold():
            ticks[0] = time.perf_counter()
            return self._runner(spark, self.ck_cold, on_group).run(spark, self.dirty)

        half = self.groups // 2

        def kill_at_half(i, n, metrics):
            if i == half:
                raise _Kill()

        def killed():
            try:
                self._runner(spark, self.ck_killed, kill_at_half).run(spark, self.dirty)
            except _Kill:
                return True
            return False

        res = calls.call("runner.run_cold", cold)
        m = res.metrics
        span = "runner.run_cold"
        calls.expect(span, m.total_rows == self.rows, f"total_rows {m.total_rows}")
        calls.expect(span, len(res.groups) == self.groups, f"{len(res.groups)} groups")
        calls.expect(span, not m.early_terminated, "early-terminated")
        # unique is per group here: a duplicate pair can straddle two groups
        for k, want in self.expected.items():
            if k != "doc_id__unique":
                got = m.common_errors.get(k, 0)
                calls.expect(span, got == want, f"{k} {got} != {want}")
        calls.expect(
            span,
            m.common_errors.get("source__referential") == m.common_errors.get("source__isin"),
            "source__referential != source__isin",
        )

        was_killed = calls.call("runner.run_killed", killed)
        calls.expect("runner.run_killed", was_killed, "run was not killed")
        finished = len(glob.glob(os.path.join(self.ck_killed, "group-*.json")))
        calls.expect("runner.run_killed", finished == half, f"{finished} groups before kill")

        resumed = calls.call(
            "runner.run_resume",
            lambda: self._runner(spark, self.ck_killed).run(spark, self.dirty),
        )
        self.last_resumed = sum(g.resumed for g in resumed.groups)
        self.last_finished = finished
        r = resumed.metrics
        same = (
            r.total_rows, r.valid_rows, r.invalid_rows, r.chunks_processed,
            r.early_terminated, dict(r.common_errors),
        ) == (
            m.total_rows, m.valid_rows, m.invalid_rows, m.chunks_processed,
            m.early_terminated, dict(m.common_errors),
        )
        calls.expect("runner.run_resume", same, "resumed metrics differ from the cold run")
        calls.expect(
            "runner.run_resume",
            self.last_resumed == finished,
            f"{self.last_resumed} groups resumed, {finished} finished before the kill",
        )


class CorpusDedupPack:
    """duplicated_ngram_coverage → remove_duplicated_spans → pack_sequences →
    materialize_packed_bins(copartition=True) on a clean corpus in which a
    seeded share of docs carries one of a small pool of shared spans."""

    name = "corpus_dedup_pack"
    # a second warm-up would cost a tenth of the run; the per-call medians
    # absorb the few percent of warming left after the first
    WARMUPS = 1
    spans = (
        "token_ops.duplicated_ngram_coverage",
        "token_ops.remove_duplicated_spans",
        "token_ops.pack_sequences",
        "token_ops.materialize_packed_bins",
    )
    SPAN_LEN = 64
    N_SPANS = 16
    CARRIER_EVERY = 4        # 1 doc in 4 carries a span
    CAPACITY = 1024
    SHARDS = 8

    def __init__(self, seed: int, work: str, *, docs: int) -> None:
        self.seed, self.rows = seed, docs
        self.corpus = os.path.join(work, "corpus")
        self.dedup = os.path.join(work, "dedup")
        self.layout = os.path.join(work, "layout")
        self.bins = os.path.join(work, "bins")
        rng = random.Random(seed)
        self.span_tokens = [
            [rng.randrange(VOCAB_SIZE) for _ in range(self.SPAN_LEN)]
            for _ in range(self.N_SPANS)
        ]

    def setup(self, spark) -> None:
        base = token_table(spark, self.rows, seed=self.seed, mean_scale=512)
        # the generator's row id is the doc_id's number
        i = F.substring("doc_id", 5, 12).cast("long")
        h = lambda salt: F.xxhash64(i, F.lit(self.seed), F.lit(salt))  # noqa: E731
        span_k = F.when(
            F.pmod(h(101), F.lit(self.CARRIER_EVERY)) == 0,
            F.pmod(h(102), F.lit(self.N_SPANS)),
        )
        pool = F.array(*[F.array(*[F.lit(t) for t in s]) for s in self.span_tokens])
        at = F.pmod(h(103), F.col("n_tok") + 1).cast("int")
        injected = F.concat(
            F.slice("tokens", 1, at),
            F.element_at(pool, (span_k + 1).cast("int")),
            F.slice("tokens", at + 1, F.size("tokens")),
        )
        corpus = base.withColumn("__k", span_k).select(
            "doc_id",
            F.when(F.col("__k").isNull(), F.col("tokens")).otherwise(injected).alias("tokens"),
            F.when(F.col("__k").isNull(), F.col("n_tok"))
            .otherwise(F.col("n_tok") + self.SPAN_LEN)
            .alias("n_tok"),
            "source",
            "__k",
        )
        corpus.persist()   # generated once for the write and the carrier list
        _write(corpus.drop("__k"), self.corpus)
        self.carriers = {
            r[0]: r[1] for r in corpus.filter(F.col("__k").isNotNull()).select("doc_id", "__k").collect()
        }
        corpus.unpersist()

    def iterate(self, spark, calls: Calls) -> None:
        df = spark.read.parquet(self.corpus)
        span = "token_ops.duplicated_ngram_coverage"
        cov = calls.call(
            span,
            lambda: duplicated_ngram_coverage(df, n_tok_col="n_tok")
            .filter(F.col("dup_tokens") > 0)
            .select("doc_id", "dup_tokens")
            .collect(),
        )
        dup = {r[0]: r[1] for r in cov}
        low = [d for d in self.carriers if dup.get(d, 0) < self.SPAN_LEN]
        calls.expect(span, not low, f"{len(low)} carriers with dup_tokens < {self.SPAN_LEN}")

        span = "token_ops.remove_duplicated_spans"
        calls.call(span, lambda: _write(remove_duplicated_spans(df), self.dedup))
        ded = spark.read.parquet(self.dedup)
        removed = {
            r[0]: r[1]
            for r in ded.filter(F.col("n_removed") > 0).select("doc_id", "n_removed").collect()
        }
        keepers: dict[int, list[str]] = defaultdict(list)
        for d, k in self.carriers.items():
            if removed.get(d, 0) < self.SPAN_LEN:
                keepers[k].append(d)
        calls.expect(
            span,
            sorted(keepers) == sorted(set(self.carriers.values()))
            and all(len(v) == 1 for v in keepers.values()),
            "not exactly one carrier per span keeps its span",
        )
        kept = {
            r[0]: list(r[1])
            for r in ded.filter(F.col("doc_id").isin([v[0] for v in keepers.values()]))
            .select("doc_id", "tokens")
            .collect()
        }
        for k, (d, *_) in keepers.items():
            s, toks = self.span_tokens[k], kept.get(d, [])
            has = any(toks[j : j + self.SPAN_LEN] == s for j in range(len(toks) - self.SPAN_LEN + 1))
            calls.expect(span, has, f"keeper {d} lost span {k}")

        packed_in = ded.withColumn("n_tok", F.col("tok_len") - F.col("n_removed"))
        calls.call(
            "token_ops.pack_sequences",
            lambda: _write(
                pack_sequences(
                    packed_in, capacity=self.CAPACITY, shards=self.SHARDS, seed=self.seed
                ),
                self.layout,
            ),
        )
        lay = spark.read.parquet(self.layout)
        n_lay, packed_tokens = lay.agg(F.count(F.lit(1)), F.sum("n_tok")).collect()[0]
        calls.expect(
            "token_ops.pack_sequences", n_lay == self.rows, f"{n_lay} docs packed"
        )

        span = "token_ops.materialize_packed_bins"
        calls.call(
            span,
            lambda: _write(
                materialize_packed_bins(
                    ded, lay, capacity=self.CAPACITY, pad_id=VOCAB_SIZE,
                    copartition=True, shards=self.SHARDS, seed=self.seed,
                ),
                self.bins,
            ),
        )
        fill, lo, hi = (
            spark.read.parquet(self.bins)
            .agg(F.sum("fill"), F.min(F.size("tokens")), F.max(F.size("tokens")))
            .collect()[0]
        )
        calls.expect(span, fill == packed_tokens, f"sum(fill) {fill} != packed {packed_tokens}")
        calls.expect(
            span, lo == hi == self.CAPACITY, f"bin sizes {lo}..{hi} != {self.CAPACITY}"
        )

    def derived(self, tracer) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (TableAudit, CorpusDedupPack)}

# sizes of a measured run, and of the smoke run. The work of an iteration is
# mostly per-call and per-job cost, so smaller inputs give more iterations,
# and steadier medians, in a run of about a minute (set-ups and warm-up
# included)
SIZES = {
    "table_audit": dict(rows=3_000, baseline_rows=1_000, files=2, files_per_group=1),
    "corpus_dedup_pack": dict(docs=1_000),
}
SMOKE_SIZES = {
    "table_audit": dict(rows=2_000, baseline_rows=500, files=2, files_per_group=1),
    "corpus_dedup_pack": dict(docs=400),
}
