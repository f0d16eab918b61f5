package perfbench

/** Writes `SparkEntry.oracleSql` as JSON (query → DuckDB SQL) for
  * perfbench/expected_counts.py. Usage: DumpOracle <out.json> */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${graft.io.Jsons.str(k)}:${graft.io.Jsons.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), body.getBytes("UTF-8"))
    ()
  }
}
