package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only 3rd arg: comma-separated query-name filter
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      // report sorted output for one-file-per-bucket bucketed scans
      // (Spark's single-file check still guards multi-file buckets) —
      // elides the index-side merge-join sort for the persisted
      // band/IVF/bucketed-fact tables
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a cell that throws must not leave an earlier run's dump behind
      // for the checker to pass: clear both outcomes first, and record a
      // failure as <name>.FAILED, which the checkers count as failing
      val failed = Paths.get(s"$outDir/$name.FAILED")
      graft.util.LocalFs.deleteRecursively(new java.io.File(s"$outDir/$name"))
      Files.deleteIfExists(failed)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Files.writeString(failed, s"${e.getMessage}\n")
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
    // Scale-honest sweep run stamp (r14 ADVICE): fixture dirs left under
    // /tmp/graft_fixtures/<sf>/ by a PREVIOUS sweep must not be silently
    // replayed against a dump produced WITHOUT SPARK_GRAFT_SEAM_WRITE —
    // the checker admits the fixture-pin rewrite only when this stamp
    // exists and is at least as new as the dump's oracle_sql.json
    // (written just above, so a same-run stamp always qualifies).
    if (sys.env.contains("SPARK_GRAFT_SEAM_WRITE")) {
      val sfName = new java.io.File(sfDir.replaceAll("/+$", "")).getName
      val stampDir = Paths.get(s"${graft.queries.OracleFixtures.Root}/$sfName")
      Files.createDirectories(stampDir)
      Files.writeString(stampDir.resolve("RUN_STAMP"),
        new java.io.File(outDir).getAbsolutePath + "\n")
    }
    spark.stop()
  }
}
