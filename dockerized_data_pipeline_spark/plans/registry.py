"""Query registry: single source of truth for the driver contract.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the same parquet
tables. Column names/aliases MUST match between the two.

Output-type portability contract: aggregated numerics accumulate in exact
DECIMAL internally (order-independent, engine-independent), but the FINAL
output column must be DOUBLE or BIGINT — never DECIMAL.  The differential
harness coerces DuckDB DECIMAL/HUGEINT results to float64 while Spark Decimal
values surface as ``decimal.Decimal`` objects, so a DECIMAL output column
hash-mismatches even when the values are identical.  ``decimal.Decimal`` ->
float64 is correctly rounded in both engines, so casting the same exact
decimal to DOUBLE on both sides yields bit-identical results.  The ``query``
decorator enforces the Spark half structurally (any top-level Decimal output
column is cast to double); oracle SQL must apply the matching
``CAST(... AS DOUBLE)`` / ``CAST(SUM(int) AS BIGINT)`` by hand —
``tools/audit_types.py`` sweeps for violations on both sides.

DECIMAL->DOUBLE cast portability (r9, found by the sf10 scale oracle):
DuckDB's native ``CAST(DECIMAL AS DOUBLE)`` divides the unscaled integer
by 10^scale IN FLOAT ARITHMETIC, which double-rounds once the unscaled
value exceeds 2^53 (a scale-8 revenue sum crosses that at ~9e7 — q5 at
sf10 diverged from Spark in the last ulp on 2 of 5 groups). Spark's
Decimal.toDouble (BigDecimal.doubleValue) is correctly rounded. The
registry therefore rewrites every ``CAST(expr AS DOUBLE)`` in oracle SQL
to ``CAST(CAST(expr AS VARCHAR) AS DOUBLE)`` at registration: DECIMAL ->
VARCHAR is exact (all digits) and VARCHAR -> DOUBLE is correctly-rounded
strtod, matching Spark bit-for-bit; for expressions already DOUBLE or
integer the round-trip is the identity (shortest-repr print), so the
blanket rewrite is safe. This is the decimal->double mirror of the
float->DECIMAL VARCHAR round-trip rule in plans/llm.py.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Deterministic "now" for NOW()-relative queries (SURVEY section 7 hard part 3):
# events.ts spans 2024-01; an injected as-of keeps engine and oracle equal.
AS_OF = "2024-01-31 00:00:00"
ONE_DAY_BEFORE_AS_OF = "2024-01-30 00:00:00"


def _portable_output(df: DataFrame) -> DataFrame:
    """Final-mile cast of any Decimal output column to double (see module doc)."""
    dec_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
    if not dec_cols:
        return df
    return df.withColumns({c: F.col(c).cast("double") for c in dec_cols})


_AS_DOUBLE_TAIL = re.compile(r"\s+AS\s+DOUBLE\s*$", re.IGNORECASE)


def _skip_quoted_or_comment(sql: str, k: int) -> int:
    """If ``sql[k]`` opens a '...' literal ('' escape), a "..." quoted
    identifier, or a ``--`` line comment, return the index just past it;
    otherwise return ``k`` unchanged."""
    n = len(sql)
    c = sql[k]
    if c == "'" or c == '"':
        q = c
        k += 1
        while k < n:
            if sql[k] == q:
                if q == "'" and k + 1 < n and sql[k + 1] == "'":
                    k += 2
                    continue
                return k + 1
            k += 1
        return n
    if c == "-" and k + 1 < n and sql[k + 1] == "-":
        nl = sql.find("\n", k)
        return n if nl == -1 else nl + 1
    return k


def _next_cast(sql: str, upper: str, i: int) -> int:
    """Index of the next ``CAST(`` token at or after ``i`` that sits
    outside string literals, quoted identifiers, and ``--`` comments
    (so a literal ``'CAST(z AS DOUBLE)'`` is never rewritten), and is
    word-boundary-checked (``BROADCAST(`` is not a cast)."""
    n = len(sql)
    k = i
    while k < n:
        k2 = _skip_quoted_or_comment(sql, k)
        if k2 != k:
            k = k2
            continue
        if upper.startswith("CAST(", k) and (
            k == 0 or not (sql[k - 1].isalnum() or sql[k - 1] == "_")
        ):
            return k
        k += 1
    return -1


def _funcall_spans(sql: str) -> list[tuple[int, int]]:
    """(open, close) index pairs of parenthesized groups immediately
    preceded by an identifier character -- i.e. function-call argument
    lists, not grouping parens or subqueries. String/comment aware."""
    spans: list[tuple[int, int]] = []
    stack: list[tuple[int, bool]] = []
    k, n = 0, len(sql)
    while k < n:
        k2 = _skip_quoted_or_comment(sql, k)
        if k2 != k:
            k = k2
            continue
        c = sql[k]
        if c == "(":
            is_fn = k > 0 and (sql[k - 1].isalnum() or sql[k - 1] == "_")
            stack.append((k, is_fn))
        elif c == ")" and stack:
            o, is_fn = stack.pop()
            if is_fn:
                spans.append((o, k))
        k += 1
    return spans


def roundtrip_double_casts(sql: str) -> str:
    """Rewrite every ``CAST(expr AS DOUBLE)`` to
    ``CAST(CAST(expr AS VARCHAR) AS DOUBLE)`` (see module doc: DuckDB's
    native DECIMAL->DOUBLE cast double-rounds above 2^53 unscaled;
    the VARCHAR route is correctly rounded and the identity for
    already-double/integer expressions). Balanced-paren scan that skips
    string literals, quoted identifiers, and ``--`` comments at every
    level (a quoted ``'CAST(z AS DOUBLE)'`` survives untouched); recurses
    into cast bodies so nested casts are rewritten too.

    Exemption: a cast is left alone when its body references
    ``embedding`` OR when it sits lexically inside a function-call
    argument list that references ``embedding`` (covers lambda-bound
    REAL elements, e.g. ``list_transform(embedding, x -> CAST(x AS
    DOUBLE))``, where the inner body has no ``embedding`` token). REAL
    (float32) -> DOUBLE must WIDEN exactly, and the VARCHAR route would
    instead parse the shortest FLOAT32 string as a double -- a different
    value (caught by x3_centroid_purity in the sweep). ``embedding`` is
    the schema's only REAL column, so the token test is exact for every
    registered oracle; a future REAL column must join the exemption.
    An exempted cast's body is emitted verbatim (no recursion inside):
    everything under an embedding expression is float32-derived, so a
    nested double-cast there must stay native too. Known limit: a
    DECIMAL double-cast passed as a SIBLING argument of the same
    embedding-referencing call keeps its native cast -- no registered
    oracle mixes the two in one argument list."""
    out: list[str] = []
    i = 0
    upper = sql.upper()
    lower = sql.lower()
    # only funcall spans that reference embedding can exempt a cast;
    # filtering once keeps the per-cast check linear in those spans
    emb_spans = [
        (o, c_) for o, c_ in _funcall_spans(sql) if "embedding" in lower[o:c_]
    ]
    while True:
        j = _next_cast(sql, upper, i)
        if j == -1:
            out.append(sql[i:])
            return "".join(out)
        k = j + 5
        depth = 1
        while k < len(sql) and depth:
            k2 = _skip_quoted_or_comment(sql, k)
            if k2 != k:
                k = k2
                continue
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        inner = sql[j + 5 : k - 1]
        m = _AS_DOUBLE_TAIL.search(inner)
        embedding_ctx = "embedding" in inner.lower() or any(
            o < j < c_ for o, c_ in emb_spans
        )
        if m and not embedding_ctx:
            # recursion is context-free-safe here: the body has no
            # 'embedding' token, so no funcall span inside it can
            # reference embedding either
            expr = roundtrip_double_casts(inner[: m.start()])
            out.append(sql[i:j])
            out.append(f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)")
            i = k
        elif embedding_ctx:
            # emit the whole cast verbatim -- see docstring
            out.append(sql[i:k])
            i = k
        else:
            # not a double cast: emit up to the body and keep scanning
            # INSIDE it so nested double-casts are still rewritten
            out.append(sql[i : j + 5])
            i = j + 5


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _portable_output(fn(spark, sf_dir))

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = roundtrip_double_casts(oracle)
        return fn

    return deco
