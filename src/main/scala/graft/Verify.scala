package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter: SPARK_GRAFT_ONLY=q129_pq_adc,q130_... runs a subset
    // (the driver never sets it, so the gate always sweeps everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    selected.foreach { case (name, fn) =>
      // one profile line per query on stderr, leaving outDir as the oracle
      // check reads it: the jobs, stages and tasks of its build and write,
      // and the operators of the SQL executions they ran
      val (_, tag) = QueryProfile.tagged(spark, name) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      try System.err.println(QueryProfile.read(spark, tag).json(name))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name profile unreadable: $e")
      }
      // queries that persist() an intermediate (q35, q113) would otherwise
      // pin cached blocks across the whole 110-query sweep
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the contract spec drives this main inside the shared test JVM, where
    // stopping the (getOrCreate-shared) session kills every suite running
    // in parallel with it
    if (!sys.props.get("graft.verify.noStop").contains("1")) spark.stop()
  }
}
