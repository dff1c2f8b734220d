package perfbench

import java.time.{Instant, LocalDate}
import graft.serve.AmbientService
import graft.serve.Responses._

/** A delegating [[AmbientService]]: every public endpoint method forwards
  * to the current `inner` service. With a [[Tracer]] it also records each
  * call as a span named `serve.<class>.<method>` under a fresh request id,
  * so the Spark jobs the call starts are attributed to it.
  *
  * `swap` replaces the inner service — the ingest workload rebuilds it with
  * `AmbientService.fromArchive` after each landed day, so the catalog
  * covers the new data. The superclass state is never used: all reads go
  * through `inner`. */
final class TracedService(initial: AmbientService, tracer: Option[Tracer])
    extends AmbientService(initial.broadband, initial.psd, Seq.empty) {

  @volatile private var inner: AmbientService = initial

  def swap(next: AmbientService): Unit = inner = next

  private def call[T](name: String)(f: AmbientService => T): T = tracer match {
    case None => f(inner)
    case Some(t) => t.span(s"serve.$name", request = t.newRequest())(f(inner))
  }

  override def getOptions(hydrophone: Option[String]): OptionsResponse =
    call("meta.options")(_.getOptions(hydrophone))

  override def getBroadbandTimeseries(hydrophone: String, start: Instant,
      end: Instant, deltaT: Int, doValidate: Boolean): BroadbandTimeseriesResponse =
    call("raw.broadband")(_.getBroadbandTimeseries(hydrophone, start, end, deltaT, doValidate))

  override def getPsdTimeseries(hydrophone: String, start: Instant, end: Instant,
      deltaT: Int, deltaFSel: String, doValidate: Boolean): PsdMatrixResponse =
    call("raw.psd")(_.getPsdTimeseries(hydrophone, start, end, deltaT, deltaFSel, doValidate))

  override def getBroadbandAggregation(hydrophone: String, start: Instant,
      end: Instant, interval: String, deltaT: Int,
      doValidate: Boolean): BroadbandAggregationResponse =
    call("heatmap.broadband")(_.getBroadbandAggregation(hydrophone, start, end,
      interval, deltaT, doValidate))

  override def getPsdAggregation(hydrophone: String, start: Instant, end: Instant,
      interval: String, deltaFSel: String, deltaT: Int,
      doValidate: Boolean): PsdHeatmapResponse =
    call("heatmap.psd")(_.getPsdAggregation(hydrophone, start, end, interval,
      deltaFSel, deltaT, doValidate))

  override def getDailySummary(hydrophone: String, startDate: LocalDate,
      numDays: Int, bandLow: Double, bandHigh: Double, interval: String,
      deltaFSel: String, deltaT: Int): DailySummaryResponse =
    call("daily.summary")(_.getDailySummary(hydrophone, startDate, numDays,
      bandLow, bandHigh, interval, deltaFSel, deltaT))

  override def getDailyBroadband(hydrophone: String, startDate: LocalDate,
      numDays: Int, deltaT: Int): DailyBroadbandResponse =
    call("daily.broadband")(_.getDailyBroadband(hydrophone, startDate, numDays, deltaT))
}
