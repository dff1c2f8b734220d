package perfbench

import java.time.LocalDate
import graft.catalog.CatalogSidecar
import graft.serve.{DailySummaryStore, HeadToHead}

/** Writes one serving archive with the program's own writer
  * (`HeadToHead.buildArchive`), builds both catalog sidecars and maintains
  * the 1/7/30-day trailing daily-summary rollups, so every timed run
  * starts from an up-to-date archive.
  *
  * Usage: `Prepare <root> <startDate> <months> <band,band,...>`.
  * Prints one JSON line with the step timings. */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(root, start, months, bandList) = args
    val bands = bandList.split(",").toSeq.map(_.toDouble)
    val spark = Sessions.serving()
    spark.sparkContext.setLogLevel("WARN")
    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, buildS) = secs(HeadToHead.buildArchive(spark, root,
      LocalDate.parse(start), months.toInt, rateSec = 1, bands = bands))
    val (_, indexS) = secs {
      CatalogSidecar.load(spark, s"$root/broadband")
      CatalogSidecar.load(spark, s"$root/psd")
    }
    val (_, rollupS) = secs(new DailySummaryStore(spark, root)
      .maintainTrailing(HeadToHead.Hydrophone, "octave_bands", 3, 1, Seq(1, 7, 30)))
    println(f"""{"build_s": $buildS%.3f, "index_s": $indexS%.3f, "rollup_s": $rollupS%.3f}""")
    spark.stop()
  }
}
