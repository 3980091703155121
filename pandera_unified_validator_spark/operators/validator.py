"""The Spark-native validation engine.

Replaces the reference's ``UnifiedValidator`` eager pandas/pandera/Pydantic
pipeline (reference ``core/validator.py:109-167``, lifecycle in SURVEY.md §3.1)
with a single declarative plan:

1. driver-side preflight: missing columns (C10) + dtype conformance (C9);
2. ONE whole-stage-codegen pass computing every row-local check as a boolean
   flag column (C1-C7, U1-U3) — no Python in the hot path; the checks are SQL
   text (``plans/compiler.py``), so a few ``selectExpr`` calls build the plan;
3. global checks as their scalable Spark shapes:
   * ``unique`` (C8) → map-side-combined ``groupBy(key).count()`` (the
     duplicate-key set is tiny when data is mostly clean) → **broadcast**
     left join back to flag member rows — the hash-repartitioned distinct
     count of the north rule without a sort or window;
   * referential (C6 against a dimension DataFrame) → **broadcast** left
     join against the distinct dimension keys;
4. one aggregation producing per-partition × per-check verdict counts;
5. violation rows as a DataFrame (keyed by the caller's key columns, e.g.
   ``doc_id`` — positional pandas indices from
   ``backends/pandas_backend.py:77-98`` are not stable under distribution,
   SURVEY.md §7.4.1), each row carrying ``failed_checks array<string>``.

Checks always run in collect-all mode (reference "lazy"); ``fail_fast`` only
controls raise-vs-return, matching ``core/validator.py:136-137``.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from functools import reduce
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.compiler import CompiledCheck, compile_schema, dtype_errors
from ..plans.compiler import quote_ident as _q
from ..plans.compiler import sql_literal
from ..plans.schema import ValidationSchema
from ..utils.cache import registry as _cache
from ..utils.reporting import CheckResult, ValidationReport

__all__ = ["SparkValidator", "ValidationResult", "ValidationFailedError", "FLAG_PREFIX"]

FLAG_PREFIX = "__chk_"
_PID = "__puv_pid"
_ROW_OK = "__puv_row_ok"

_LOG = logging.getLogger(__name__)


from ..plans.stats import plan_size_bytes as _plan_size_bytes  # noqa: E402  (shared with dedup)


def _fail_count(name: str) -> str:
    """Aggregate SQL: rows failing check ``name``, as a column ``name``."""
    return f"sum(CAST(NOT {_q(FLAG_PREFIX + name)} AS BIGINT)) AS {_q(name)}"


def _stack(names: Sequence[str]) -> str:
    """Unpivot the per-check count columns into (check, n_failed) rows."""
    pairs = ", ".join(f"{sql_literal(n)}, {_q(n)}" for n in names)
    return f"stack({len(names)}, {pairs}) AS (check, n_failed)"


def _dup_keys(df: DataFrame, key_sql: str, alias: str) -> DataFrame:
    """The values of ``key_sql`` that more than one row of ``df`` holds, as
    the one column ``alias`` (map-side-combined groupBy, then a filter)."""
    return (
        df.groupBy(F.expr(f"{key_sql} AS {alias}"))
        .agg(F.expr("count(1) AS __dup_n"))
        .filter("__dup_n > 1")
        .select(alias)
    )


class ValidationFailedError(Exception):
    def __init__(self, report: ValidationReport):
        self.report = report
        super().__init__(
            f"validation failed: {len(report.failed_checks)} failed checks, "
            f"{report.n_invalid_rows} invalid rows"
        )


@dataclass
class ValidationResult:
    """Outcome bundle: driver-side report + distributed DataFrames.

    ``flags`` is the annotated input (original columns + one boolean flag per
    check + ``__puv_row_ok``); everything else derives from it lazily so
    callers pay only for what they use.
    """

    report: ValidationReport
    flags: DataFrame
    checks: tuple[str, ...]                   # flag column names (no prefix)
    verdicts: DataFrame                        # per-partition × check counts (long)
    key_columns: tuple[str, ...] = ()

    @property
    def is_valid(self) -> bool:
        return self.report.is_valid

    def violations(self, include_flags: bool = False) -> DataFrame:
        """Invalid rows + ``failed_checks array<string>`` (P5/P6 analogue)."""
        whens = ", ".join(
            f"CASE WHEN NOT {_q(FLAG_PREFIX + c)} THEN {sql_literal(c)} END"
            for c in self.checks
        )
        out = self.flags.filter(f"NOT {_ROW_OK}").withColumn(
            "failed_checks", F.expr(f"array_compact(array({whens}))")
        )
        return out if include_flags else out.drop(*self._added())

    def valid_rows(self) -> DataFrame:
        """The clean split (reference backends/pandas_backend.py:64-75)."""
        return self.flags.filter(_ROW_OK).drop(*self._added())

    def invalid_rows(self) -> DataFrame:
        return self.flags.filter(f"NOT {_ROW_OK}").drop(*self._added())

    def _added(self) -> list[str]:
        """Names of the columns ``annotate`` added to the input."""
        return [FLAG_PREFIX + c for c in self.checks] + [_ROW_OK, _PID]


class SparkValidator:
    """Validate a DataFrame against a ValidationSchema — one pass, all checks.

    Parameters
    ----------
    schema:
        the declarative schema.
    ref_checks:
        ``{column: dimension DataFrame (or column name in it)}`` — referential
        integrity against a dimension table executed as a broadcast anti-join
        (C6 at scale; the north rule's "source against an allowed-values
        dimension").
    key_columns:
        stable row identity for violation reporting (e.g. ``("doc_id",)``).
    partition_by:
        logical partition column for per-partition verdicts; default =
        physical ``spark_partition_id()``.
    """

    def __init__(
        self,
        schema: ValidationSchema,
        *,
        ref_checks: Mapping[str, DataFrame | tuple[DataFrame, str]] | None = None,
        key_columns: Sequence[str] = (),
        partition_by: str | None = None,
        collect_samples: bool = False,
        max_samples: int = 5,
        fail_fast: bool = False,
        unique_strategy: str = "auto",
        broadcast_dup_limit: int = 4_000_000,
        stats_broadcast_bytes: int = 32 << 20,
    ) -> None:
        """``unique_strategy``:

        * ``"direct"`` — groupBy the key itself. Shuffle carries the full key
          (~30+ B for doc_id strings at 10^12 rows). Dup-key set broadcast.
        * ``"hash_prefilter"`` — shuffle only ``xxhash64(key)`` (8 B fixed) to
          find duplicate *hashes*, then exact-verify just those candidate
          rows (semi-join + tiny groupBy). ~4x less shuffle for string keys;
          64-bit collisions only ever ADD candidates (n²/2⁶⁵ expected — a
          few 10k at 10^12 rows), never lose a duplicate, and the exact pass
          removes them. Correct for mostly-clean data; with huge duplicate
          sets the candidate broadcast degrades — keep "direct" there.
        * ``"auto"`` — two tiers, both exact-safe:

          1. *Catalyst-stats fast path*: when the input relation's
             plan-estimated size is ≤ ``stats_broadcast_bytes`` (32 MB —
             file bytes for parquet, cached bytes for persisted inputs; no
             job, no scan), even a worst-case every-row-duplicated dup-key
             set broadcasts comfortably, so the single-job ``"direct"``
             broadcast plan runs as-is. This keeps small inputs (a
             partition group, a micro-batch, test scale) at one job with
             zero fixed overhead.
          2. otherwise the dup-key set is computed EAGERLY (persist +
             count): the same column-pruned scan + map-side-combined
             groupBy the join-back needs anyway runs as its own job, the
             (tiny, for mostly-clean data) result is cached, and the EXACT
             dup-key count picks the join-back shape — within
             ``broadcast_dup_limit`` → broadcast (zero exchange on the big
             side); otherwise → plain shuffled left join from the cache
             (AQE may still broadcast at runtime). Heavily-duplicated
             10^12-row inputs can't OOM the driver, and total input scans
             equal the ``"direct"`` plan's two; the one extra *job* is
             fixed overhead that vanishes at scale (round 3 instead ran a
             separate approx_count_distinct estimate scan before the main
             pass — +64% on ``check_unique``, −23% token throughput,
             BENCH_r02→r03).

          **Default** — callers who haven't read this far get the OOM-safe
          plan; the chosen join shape is surfaced per check in
          ``report.metadata["unique_join_plan"]``.
        """
        if unique_strategy not in ("direct", "hash_prefilter", "auto"):
            raise ValueError(f"unknown unique_strategy {unique_strategy!r}")
        self.schema = schema
        self.ref_checks = dict(ref_checks or {})
        self.key_columns = tuple(key_columns)
        self.partition_by = partition_by
        self.collect_samples = collect_samples
        self.max_samples = max_samples
        self.fail_fast = fail_fast
        self.unique_strategy = unique_strategy
        self.broadcast_dup_limit = int(broadcast_dup_limit)
        self.stats_broadcast_bytes = int(stats_broadcast_bytes)
        # filled per annotate() call: {check_name: "broadcast" | "shuffle"}
        self.unique_join_plan: dict[str, str] = {}
        # filled per annotate() call: human-readable contract caveats
        # (e.g. unique skipped on a stream) — surfaced in report.warnings
        self.warnings: list[str] = []
        # dup-key sets cached by the "auto" strategy; released on the next
        # annotate() (unpersist only drops the cache — recompute is safe)
        self._persisted: list[DataFrame] = []

    # ------------------------------------------------------------------ #
    def annotate(
        self, df: DataFrame, _skip_unique: bool = False, _compiled: tuple | None = None
    ) -> tuple[DataFrame, list[CompiledCheck], list[str]]:
        """Input df → df + one boolean flag column per check (TRUE = pass).

        Row-local checks are pure expressions (one codegen stage); unique and
        referential checks become broadcast-join-produced flags.
        ``_skip_unique`` omits the unique-join flags entirely — the
        count-only ``check_counts`` path computes unique totals as direct
        aggregates instead (no dup-key materialization, no join-back).
        ``_compiled``: the caller's ``compile_schema(schema, df.columns)``.
        """
        columns = df.columns
        row_checks, global_checks, missing = _compiled or compile_schema(self.schema, columns)
        if _skip_unique:
            global_checks = [g for g in global_checks if g.check != "unique"]
        self.unique_join_plan = {}
        self.warnings = []
        for cached in self._persisted:
            _cache.release(cached)
        self._persisted = []
        # NULL check result (possible from custom SQL/UDF) counts as FAIL,
        # matching pandera's treatment of non-boolean check output.
        sql_flags, udf_flags = [], []
        for c in row_checks:
            if isinstance(c.expr, str):
                sql_flags.append(f"coalesce({c.expr}, false) AS {_q(FLAG_PREFIX + c.name)}")
            else:
                udf_flags.append(F.coalesce(c.expr, F.lit(False)).alias(FLAG_PREFIX + c.name))
        annotated = df.selectExpr("*", f"spark_partition_id() AS {_PID}", *sql_flags)
        if udf_flags:  # pandas-UDF checks; the last projection restores check order
            annotated = annotated.select("*", *udf_flags)
        # joined flags: (check, SQL for its flag over the temporary join key)
        joined: list[tuple[CompiledCheck, str]] = []

        # unique (C8): dup-key set via partial-agg groupBy → broadcast join.
        for g in global_checks:
            if g.check != "unique":
                continue
            if df.isStreaming:
                # Not defined on an unbounded stream (a duplicate may arrive
                # later). Skip, but LOUDLY — a caller declaring unique=True
                # on a stream must not get a silently weaker contract.
                msg = (
                    f"unique check {g.name!r} skipped: uniqueness is "
                    "undefined on an unbounded stream; validate bounded "
                    "micro-batches via foreachBatch "
                    "(streaming.StreamingValidationSink), or use "
                    "streaming.cross_batch_unique_monitor for stateful "
                    "probable-duplicate detection across batches"
                )
                _LOG.warning(msg)
                self.warnings.append(msg)
                continue
            q, key = _q(g.column), f"__dup_key_{len(joined)}"
            nn = df.filter(f"{q} IS NOT NULL")
            strategy = self.unique_strategy
            use_broadcast = True
            dup_keys: DataFrame | None = None
            if strategy == "auto":
                # tier 1: Catalyst-stats fast path — plan-estimated relation
                # bytes (file sizes / cached bytes; NO job) small enough
                # that even an all-duplicates dup-key set broadcasts safely.
                # Also bounded by broadcast_dup_limit (≥8 B per key) so a
                # caller-tightened limit still forces the exact tier.
                size = _plan_size_bytes(df)
                if size is None or size > min(
                    self.stats_broadcast_bytes, self.broadcast_dup_limit * 8
                ):
                    # tier 2: eager dup-key job — the column-pruned scan +
                    # map-side-combined groupBy the join-back needs anyway,
                    # cached, so the EXACT dup-key count picks the join
                    # shape with no extra input scan
                    dup_keys = _cache.persist(
                        _dup_keys(nn, q, key), f"SparkValidator.dup_keys.{g.name}"
                    )
                    self._persisted.append(dup_keys)
                    use_broadcast = dup_keys.count() <= self.broadcast_dup_limit
                strategy = "direct"
            self.unique_join_plan[g.name] = "broadcast" if use_broadcast else "shuffle"
            if strategy == "hash_prefilter":
                # stage 1: duplicate HASHES — the shuffle carries 8 bytes/row
                dup_hashes = _dup_keys(nn, f"xxhash64({q})", "__kh")
                # stage 2: exact verify only candidate rows (collisions drop)
                cand = nn.join(
                    F.broadcast(dup_hashes), F.expr(f"xxhash64({q}) = __kh"), "left_semi"
                )
                dup_keys = _dup_keys(cand, q, key)
            elif dup_keys is None:
                dup_keys = _dup_keys(nn, q, key)
            annotated = annotated.join(
                F.broadcast(dup_keys) if use_broadcast else dup_keys,
                on=F.expr(f"{q} = {key}"),
                how="left",
            )
            flag = _q(FLAG_PREFIX + g.name)
            joined.append((CompiledCheck(g.name, g.column, flag, "unique"), f"{key} IS NULL"))

        # referential (C6 vs dimension): broadcast left join on distinct keys.
        for col, dim in self.ref_checks.items():
            if isinstance(dim, tuple):
                dim_df, dim_col = dim
            else:
                dim_df, dim_col = dim, dim.columns[0]
            q, key = _q(col), f"__ref_key_{len(joined)}"
            keys = dim_df.selectExpr(f"{_q(dim_col)} AS {key}").distinct()
            annotated = annotated.join(
                F.broadcast(keys), on=F.expr(f"{q} = {key}"), how="left"
            )
            name = f"{col}__referential"
            chk = CompiledCheck(name, col, _q(FLAG_PREFIX + name), "referential")
            # NULL fk passes (nullability is its own check)
            joined.append((chk, f"{q} IS NULL OR {key} IS NOT NULL"))

        # one projection: the joined flags and the row verdict; the
        # temporary join keys drop out
        flags = [_q(FLAG_PREFIX + c.name) for c in row_checks]
        annotated = annotated.selectExpr(
            *[_q(c) for c in columns + [_PID]],
            *flags,
            *[f"({sql}) AS {c.expr}" for c, sql in joined],
            f"{' AND '.join(flags + [f'({sql})' for _, sql in joined]) or 'true'} AS {_ROW_OK}",
        )
        return annotated, row_checks + [c for c, _ in joined], missing

    # ------------------------------------------------------------------ #
    def validate(self, df: DataFrame) -> ValidationResult:
        t0 = time.time()
        compiled = compile_schema(self.schema, df.columns)
        schema_errors = [f"column {m!r} missing from input" for m in compiled[2]]
        schema_errors += dtype_errors(self.schema, df)
        if self.schema.strict:
            extra = set(df.columns) - set(self.schema.columns)
            schema_errors += [f"unexpected column {c!r} (strict mode)" for c in sorted(extra)]

        annotated, checks, _missing = self.annotate(df, _compiled=compiled)
        flag_names = [c.name for c in checks]

        pid = _q(self.partition_by) if self.partition_by else _PID
        # ONE aggregation job: per-partition totals + per-check fail counts.
        wide = annotated.groupBy(F.expr(f"{pid} AS partition_id")).agg(
            F.expr("count(1) AS n_rows"),
            F.expr(f"sum(CAST(NOT {_ROW_OK} AS BIGINT)) AS n_invalid_rows"),
            *[F.expr(_fail_count(n)) for n in flag_names],
        )
        # long-format verdict DataFrame for downstream use / persistence
        long = [_stack(flag_names)] if flag_names else [
            "CAST(NULL AS STRING) as check", "CAST(0 AS LONG) as n_failed"
        ]
        verdicts = wide.selectExpr("partition_id", "n_rows", "n_invalid_rows", *long)

        rows = wide.collect()
        n_rows = sum(r["n_rows"] for r in rows)
        n_invalid = sum(r["n_invalid_rows"] for r in rows)
        by_check = {n: sum(r[n] for r in rows) for n in flag_names}

        samples: dict[str, tuple] = {}
        if self.collect_samples and self.key_columns:
            # ONE job for every failed check's samples: a union of per-check
            # limited branches. Every branch selects the same UNIFIED column
            # set (key columns + every failed check's column — they all come
            # from the one `annotated` frame), so the union has one native
            # schema and sample values keep their Spark types (timestamps,
            # Decimals, binary — a JSON round-trip here stringified them,
            # round-5 review finding); each check's samples are then pruned
            # back to its own relevant columns. The round-4 shape looped per
            # check — up to 20 separate job launches per failing validation.
            failed = [c for c in checks if by_check.get(c.name)][:20]
            if failed:
                unified = list(dict.fromkeys(
                    [*self.key_columns, *(c.column for c in failed if c.column)]
                ))
                branches = [
                    annotated.filter(f"NOT {_q(FLAG_PREFIX + c.name)}")
                    .selectExpr(f"{sql_literal(c.name)} AS __chk", *map(_q, unified))
                    .limit(self.max_samples)
                    for c in failed
                ]
                grouped: dict[str, list] = {}
                for r in reduce(DataFrame.unionAll, branches).collect():
                    d = r.asDict()
                    grouped.setdefault(d.pop("__chk"), []).append(d)
                for c in failed:
                    cols = [*self.key_columns, *([c.column] if c.column else [])]
                    # NOTE: must not rebind `rows` — it still holds the
                    # per-partition verdict rows used for n_partitions below
                    if grouped.get(c.name):
                        samples[c.name] = tuple({k: sr[k] for k in cols} for sr in grouped[c.name])

        results = tuple(
            CheckResult(
                name=c.name,
                column=c.column,
                check=c.check,
                n_failed=int(by_check.get(c.name, 0)),
                n_checked=int(n_rows),
                samples=samples.get(c.name, ()),
            )
            for c in checks
        )
        report = ValidationReport(
            is_valid=not schema_errors and all(r.passed for r in results),
            checks=results,
            errors=tuple(schema_errors),
            warnings=tuple(self.warnings),
            n_rows=int(n_rows),
            n_invalid_rows=int(n_invalid),
            metadata={
                "engine": "pandera_unified_validator_spark",
                "elapsed_sec": round(time.time() - t0, 3),
                "n_partitions": len(rows),
                **(
                    {"unique_join_plan": dict(self.unique_join_plan)}
                    if self.unique_join_plan
                    else {}
                ),
            },
        )
        result = ValidationResult(
            report=report,
            flags=annotated,
            checks=tuple(flag_names),
            verdicts=verdicts,
            key_columns=self.key_columns,
        )
        if self.fail_fast and not report.is_valid:
            raise ValidationFailedError(report)
        return result

    def check_counts(self, df: DataFrame) -> DataFrame:
        """Lazy check-failure totals as a DataFrame (check, n_failed,
        n_checked) — the uncollected core of ``validate`` for composing into
        larger plans / SQL-oracle comparison.

        Round 7: unique checks are counted DIRECTLY off the dup-key
        aggregate (``Σ count(key) WHERE count > 1``) instead of riding the
        per-row join-back flags — count-only validation never needs a flag
        per row, so the dup-key set is never materialized, nothing is
        persisted or counted eagerly, and the input is scanned once per
        unique column (column-pruned) instead of twice. Streaming inputs
        keep the annotate path (which skips unique LOUDLY)."""
        skip_unique = not df.isStreaming
        compiled = compile_schema(self.schema, df.columns)
        annotated, checks, _ = self.annotate(df, _skip_unique=skip_unique, _compiled=compiled)
        flag_names = [c.name for c in checks]
        # compile_schema already skips checks on missing columns
        uniq = [g for g in compiled[1] if g.check == "unique"] if skip_unique else []
        if not flag_names and not uniq:
            # checkless schema: empty result with the stable contract schema
            # (a bare stack(0,) would be malformed SQL)
            return df.sparkSession.createDataFrame(
                [], "check string, n_failed long, n_checked long"
            )
        parts: list[DataFrame] = []
        if flag_names:
            wide = annotated.agg(
                F.expr("count(1) AS __n"), *[F.expr(_fail_count(n)) for n in flag_names]
            )
            parts.append(wide.selectExpr(_stack(flag_names), "__n as n_checked"))
        if uniq:
            total = df.agg(F.expr("count(1) AS n_checked"))
            for g in uniq:
                q = _q(g.column)
                dup_sum = (
                    df.filter(f"{q} IS NOT NULL")
                    .groupBy(F.expr(q))
                    .agg(F.expr("count(1) AS __c"))
                    .filter("__c > 1")
                    .agg(F.expr("CAST(coalesce(sum(__c), 0) AS BIGINT) AS n_failed"))
                )
                parts.append(
                    dup_sum.crossJoin(total).selectExpr(
                        f"{sql_literal(g.name)} AS check", "n_failed", "n_checked"
                    )
                )
        return reduce(DataFrame.unionAll, parts)

    # convenience: the reference's filter_invalid_rows split (P5)
    def validate_and_split(self, df: DataFrame) -> tuple[DataFrame, DataFrame, ValidationReport]:
        res = self.validate(df)
        return res.valid_rows(), res.invalid_rows(), res.report
