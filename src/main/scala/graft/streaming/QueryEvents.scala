package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.slf4j.LoggerFactory

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Streaming-query lifecycle surface (SURVEY §2.1 O5): every query
  * start / progress / termination — and in particular every FAILURE,
  * with its exception — is routed to the log and retained in a
  * bounded in-memory ring for inspection.
  *
  * Reference behavior: a default uncaught-exception handler that logs
  * the throwable (`DebeziumTransactionReconstructor.java:43-45`).
  * Spark's engine-native form is a [[StreamingQueryListener]]: the
  * engine already catches stream-execution failures and reports them
  * as `QueryTerminatedEvent.exception` — a thread-level handler would
  * never see them. On a real cluster the same listener is where
  * metrics export (progress → monitoring) and alerting (failure →
  * pager) attach; the driver-side queue is metadata-sized (bounded at
  * [[QueryEventLog.MAX_EVENTS]]), never row data.
  */
object QueryEvents {

  /** One recorded lifecycle event. `detail` carries the exception
    * message for failures, rows/sec progress for progress events.
    */
  final case class Event(kind: String, queryId: String, name: String,
      detail: String)

  final class QueryEventLog extends StreamingQueryListener {
    import QueryEventLog.MAX_EVENTS
    private val log = LoggerFactory.getLogger(classOf[QueryEventLog])
    private val buf = new ConcurrentLinkedQueue[Event]()

    private def record(e: Event): Unit = {
      buf.add(e)
      // bounded: drop oldest — the log file keeps full history
      while (buf.size > MAX_EVENTS) buf.poll()
    }

    override def onQueryStarted(
        event: StreamingQueryListener.QueryStartedEvent): Unit = {
      log.info(s"streaming query started: ${event.name} (${event.id})")
      record(Event("started", event.id.toString,
        Option(event.name).getOrElse(""), ""))
    }

    override def onQueryProgress(
        event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = event.progress
      log.info(s"streaming query progress: ${p.name} (${p.id}) " +
        s"batch=${p.batchId} rows=${p.numInputRows}")
      record(Event("progress", p.id.toString,
        Option(p.name).getOrElse(""),
        s"batch=${p.batchId} rows=${p.numInputRows}"))
    }

    override def onQueryTerminated(
        event: StreamingQueryListener.QueryTerminatedEvent): Unit =
      event.exception match {
        case Some(err) =>
          // The O5 surface: the failure is LOGGED with its cause, not
          // swallowed — the reference's uncaught-exception contract.
          log.error(s"streaming query FAILED: ${event.id}: $err")
          record(Event("failed", event.id.toString, "", err))
        case None =>
          log.info(s"streaming query terminated cleanly: ${event.id}")
          record(Event("terminated", event.id.toString, "", ""))
      }

    /** Snapshot of retained events, oldest first. */
    def events: Seq[Event] = buf.asScala.toSeq

    def eventsFor(queryId: String): Seq[Event] =
      events.filter(_.queryId == queryId)
  }

  object QueryEventLog {
    private[streaming] val MAX_EVENTS = 1024
  }

  /** Register (idempotently, one per session) the lifecycle listener
    * and return it — the handle tests and dashboards read events from.
    * The handle lives in [[graft.SessionMemo]], so registering never
    * pins the session past its own lifetime; the lock keeps racing
    * callers from adding a second listener.
    */
  def register(spark: SparkSession): QueryEventLog = synchronized {
    graft.SessionMemo.getOrElseUpdate(spark, "query_events", "") {
      val l = new QueryEventLog
      spark.streams.addListener(l)
      l
    }
  }
}
