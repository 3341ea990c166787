package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    Jvm.reexecIfOversizedHeap("graft.Verify", args)
    Jvm.routeJvmLogToStderr()
    // optional third arg: only (re-)dump entries whose name contains it —
    // dev-iteration fast path; the driver always passes two args
    val (sfDir, outDir, filt) = args match {
      case Array(s, o) => (s, o, "")
      case Array(s, o, f) => (s, o, f)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same managed-memory clamp as Bench: an oversized -Xmx from the
    // invoking environment must not put this guest into page-fault storms
    val reserved = 300L * 1024 * 1024
    val frac = math.min(0.6, ((8L << 30) - reserved) * 0.6 /
      (Runtime.getRuntime.maxMemory() - reserved).toDouble)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.memory.fraction", f"$frac%.4f")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a filtered dump leaves other entries' parquet stale next to a
    // freshly regenerated oracle_sql.json — leave a loud marker so
    // check.py can warn that the dir mixes generations
    val marker = Paths.get(outDir, "_PARTIAL_DUMP.txt")
    if (filt.nonEmpty)
      Files.write(marker, s"filter=$filt\n".getBytes("UTF-8"))
    else Files.deleteIfExists(marker)
    val entries = SparkEntry.queries.filter { case (name, _) =>
      filt.isEmpty || name.contains(filt) }
    val failed = entries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // one bounded summary line: at most 20 failed names are listed
    println(s"""{"entries":${entries.size},"dumped":""" +
      s"""${entries.size - failed.size},"failed":""" +
      failed.take(20).map(q).mkString("[", ",", "]") + "}")
  }
}
