package graft

import java.nio.file.{Files, Paths}

/** Dumps `SparkEntry.oracleSql` as JSON without starting Spark — for
  * checking that twin-SQL refactors (e.g. the Fix fixture-scale knob) leave
  * the driver-gate oracle byte-identical at the default mult=1, and for
  * previewing the scaled SQL under SPARK_GRAFT_FIX_MULT=k. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_dump.json")
    Files.writeString(Paths.get(out), SparkEntry.oracleJson(_ => true))
    println(s"[dump] ${SparkEntry.oracleSql.size} oracles -> $out")
  }
}
