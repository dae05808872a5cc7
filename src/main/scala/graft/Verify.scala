package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.graftbridge.PersistBridge

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Every query
  * runs even when another fails; the exit status is 1 when any failed,
  * after the failed names are printed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated name prefixes — build-time subset
    // runs while iterating; the driver always passes exactly two args
    val prefixes = args.lift(2).map(_.split(",").toSeq)
    def selected(name: String) = prefixes.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same session shape as Bench: the gate verifies the engine under
    // its deployed configuration (GraftSession), not a plain session
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // queries are independent — release this query's checkpoint blocks
      // (same block-manager hygiene as Bench)
      PersistBridge.releaseAll(spark.sparkContext)
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val failedNames = failed.result()
    if (failedNames.nonEmpty) {
      System.err.println(s"[verify] ${failedNames.size} failed: ${failedNames.mkString(",")}")
      sys.exit(1)
    }
  }
}
