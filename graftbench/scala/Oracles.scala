package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the DuckDB twins (`SparkEntry.oracleSql`) of the named
  * queries as one JSON object, without starting Spark:
  *
  *   Oracles <out.json> <name,name,...>
  */
object Oracles {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Json.value(
      args(1).split(",").map(n => n -> SparkEntry.oracleSql(n)).toMap))
}
