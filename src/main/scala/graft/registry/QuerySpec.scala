package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a query's name, its builder over (session, corpus
  * directory), and the DuckDB SQL that checks the builder's output. The
  * family objects in this package declare all of them; `SparkEntry.queries`
  * and `SparkEntry.oracleSql` are views of the one name → spec map.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)
