package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the contract cells' job floor: the 15 parity cells, each run as
  * the benchmark runs them (a fresh session, the result written as one
  * parquet file), start no schema-inference job for a `Tables` read and
  * no range-sampling job (a range exchange of more than one partition),
  * and the metadata-only file count runs its appends and little else. */
class JobFloorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the parity cells run no table schema job and no range-sampling " +
      "job; q_file_match_count runs at most 7 jobs") {
    val out = java.nio.file.Files.createTempDirectory("graft_jobfloor").toString
    val runs = graft.queries.ParityQueries.queries.keys.toSeq.sorted.map { c =>
      val s = spark.newSession()
      c -> TestJobs.during(s) {
        SparkEntry.queries(c)(s, TestSpark.Sf0001).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$c")
      }._2
    }.toMap
    assert(runs.size == 15)
    for ((c, run) <- runs) {
      val schemaJobs = run.jobs.filter(_.stageInfos.exists(_.name.startsWith("parquet at Tables.scala")))
      assert(schemaJobs.isEmpty, s"$c runs ${schemaJobs.size} table schema jobs")
      assert(run.rangeExchanges.forall(_ <= 1), s"$c samples for a range exchange: ${run.rangeExchanges}")
    }
    val fileCount = runs("q_file_match_count").jobs.size
    assert(fileCount <= 7, s"q_file_match_count runs $fileCount jobs")
    graft.util.LocalFs.deleteRecursively(new java.io.File(out))
  }
}
