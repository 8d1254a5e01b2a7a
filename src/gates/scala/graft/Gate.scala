package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked gate: `body` builds the engine's answer over a
  * test-data directory, and `oracleSql` is the DuckDB query over the same
  * parquet tables that must return the same rows.
  *
  * Conventions for oracle hash-parity:
  *  - every query ends in an explicit deterministic ORDER BY (unique key);
  *  - double aggregates go through DECIMAL casts (exact, order-independent)
  *    and back to DOUBLE; per-row doubles are rounded to fixed digits;
  *  - DuckDB-side casts (::INT/::BIGINT) align column types with Spark's.
  */
final case class Gate(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracleSql: String)
