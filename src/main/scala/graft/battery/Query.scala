package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One battery query: what `run` computes over a testdata dir, and the
  * DuckDB SQL its answer must equal. Column names and types align on
  * both sides; doubles are rounded to 4 dp so the hash compare is
  * robust to accumulation order. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: String)
