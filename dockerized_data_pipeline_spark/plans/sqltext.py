"""Verbatim doc-SQL front door (VERDICT r3 item 7): the reference
documents its query surface as literal SQL snippets users type at a
psql prompt (README.md:202-204, :206-208, :217-220, :223-226, :314-321;
Makefile:219, :222). Each snippet below runs as the IDENTICAL SQL text
through ``spark.sql`` here and through DuckDB as the oracle -- closing
the "same query capabilities" claim at the SQL-text level, not just as
DataFrame re-expressions (which exist separately: A1-A4, O1-O2).

The reference's tables map onto the fixtures the same way the
DataFrame twins do (plans/monitoring.py): ``stock_data`` is a view over
``events`` exposing the reference's column names (symbol ~ event_type,
timestamp ~ ts), and ``pipeline_logs`` is a deterministic view over
``events`` (dag_id ~ event_type, created_at unique per row so that
``ORDER BY created_at DESC LIMIT n`` is well-defined). Both engines get
the SAME view definitions; only the view mechanics differ (temp view vs
CTE prefix).

Two documented adaptations, applied identically on both engines:
  * ``NOW()`` is replaced by the injected AS_OF literal (SURVEY section
    7 hard part 3: a wall-clock NOW() can never oracle-compare);
  * the one bare aggregate (``COUNT(*)`` with no alias, README.md:219)
    gets ``AS runs`` and the interval-typed ``age`` column
    (README.md:225) is emitted as whole seconds -- engines name unnamed
    columns differently and interval values do not hash portably (same
    rule as plans/monitoring.py A3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..session import isolated_session
from .registry import AS_OF, query

# shared view definitions -- ONE dialect-neutral text per view, used as a
# Spark temp view and as the oracle's CTE body
_STOCK_DATA_VIEW = "SELECT event_type AS symbol, ts AS `timestamp` FROM events"
_PIPELINE_LOGS_VIEW = """
    SELECT event_type AS dag_id,
           'ingest_stock_data' AS task_id,
           CASE WHEN event_id % 10 < 9 THEN 'success' ELSE 'failed' END
             AS status,
           CAST(event_id % 500 AS BIGINT) AS records_processed,
           {created_at} AS created_at
    FROM events
"""


def _doc_views(spark: SparkSession, sf_dir: str) -> SparkSession:
    """A clone of ``spark`` (session.isolated_session) holding the
    stock_data/pipeline_logs views of the verbatim doc-SQL queries."""
    clone = isolated_session(spark, events=load_table(spark, sf_dir, "events"))
    clone.sql(_STOCK_DATA_VIEW).createOrReplaceTempView("stock_data")
    # created_at is unique per row (event_id is the PK), so DESC LIMIT n
    # is total
    clone.sql(
        _PIPELINE_LOGS_VIEW.format(
            created_at="timestampadd(MICROSECOND, event_id, ts)"
        )
    ).createOrReplaceTempView("pipeline_logs")
    return clone


def _oracle(text: str) -> str:
    """The same verbatim text over DuckDB, views supplied as CTEs."""
    stock = _STOCK_DATA_VIEW.replace("`", '"')
    logs = _PIPELINE_LOGS_VIEW.format(created_at="ts + to_microseconds(event_id)")
    return f"WITH stock_data AS ({stock}), pipeline_logs AS ({logs}) {text}"


def _sqltext(name: str, text: str, oracle_text: str | None = None):
    """Register one verbatim doc-SQL snippet under both engines.
    ``oracle_text`` overrides the DuckDB side for the one query whose
    epoch arithmetic has no engine-shared spelling (the A3 rule)."""

    @query(name, oracle=_oracle(oracle_text or text))
    def run(spark: SparkSession, sf_dir: str, _text=text) -> DataFrame:
        return _doc_views(spark, sf_dir).sql(_text)

    run.__name__ = name
    run.__qualname__ = name
    return run


# README.md:202-204 -- per-symbol record count + latest point (verbatim)
sqltext_records_per_symbol = _sqltext(
    "sqltext_records_per_symbol",
    """SELECT symbol, COUNT(*) as records, MAX(timestamp) as latest
FROM stock_data
GROUP BY symbol""",
)

# README.md:206-208 -- recent pipeline runs peek (verbatim; created_at is
# unique by construction so the LIMIT is deterministic)
sqltext_recent_logs = _sqltext(
    "sqltext_recent_logs",
    """SELECT * FROM pipeline_logs
ORDER BY created_at DESC
LIMIT 10""",
)

# README.md:217-220 -- health check: executions per dag/status over the
# last day (NOW() -> AS_OF literal; bare COUNT(*) aliased AS runs)
sqltext_health_by_status = _sqltext(
    "sqltext_health_by_status",
    f"""SELECT dag_id, status, COUNT(*) AS runs
FROM pipeline_logs
WHERE created_at >= TIMESTAMP '{AS_OF}' - INTERVAL '1 day'
GROUP BY dag_id, status""",
)

# README.md:223-226 -- data freshness per symbol (NOW() -> AS_OF literal;
# age emitted as whole seconds via exact integer microsecond arithmetic,
# the A3 portability rule: interval values do not hash across engines and
# the two engines spell microsecond-epoch differently, so this is the one
# snippet whose age expression is engine-specific)
sqltext_freshness = _sqltext(
    "sqltext_freshness",
    f"""SELECT symbol, MAX(timestamp) as latest_data,
       (unix_micros(CAST(TIMESTAMP '{AS_OF}' AS TIMESTAMP))
        - unix_micros(CAST(MAX(timestamp) AS TIMESTAMP))) div 1000000 as age
FROM stock_data
GROUP BY symbol""",
    oracle_text=f"""SELECT symbol, MAX(timestamp) as latest_data,
       (epoch_us(TIMESTAMP '{AS_OF}') - epoch_us(MAX(timestamp)))
        // 1000000 as age
FROM stock_data
GROUP BY symbol""",
)

# README.md:314-321 -- pipeline statistics summary (verbatim)
sqltext_data_summary = _sqltext(
    "sqltext_data_summary",
    """SELECT
    symbol,
    COUNT(*) as total_records,
    MIN(timestamp) as oldest_data,
    MAX(timestamp) as newest_data
  FROM stock_data
  GROUP BY symbol""",
)

# Makefile:219 -- latest pipeline executions (verbatim)
sqltext_latest_executions = _sqltext(
    "sqltext_latest_executions",
    """SELECT dag_id, status, records_processed, created_at FROM pipeline_logs ORDER BY created_at DESC LIMIT 5""",
)

# Makefile:222 -- stock data summary, ordered (verbatim)
sqltext_symbol_summary_ordered = _sqltext(
    "sqltext_symbol_summary_ordered",
    """SELECT symbol, COUNT(*) as records, MAX(timestamp) as latest FROM stock_data GROUP BY symbol ORDER BY symbol""",
)
