package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory event store of a traced run. Listeners append one compact JSON
  * object per event; nothing touches the disk until the run ends, when the
  * events are written once to the file named by the `perfbench.trace.out`
  * system property (on application end, or from a JVM shutdown hook when
  * the process under test is stopped by a signal).
  *
  * The time the listeners spend building and storing events is summed; the
  * last event written is `{"ev":"overhead","listener_ns":..,"wall_ms":..}`,
  * that sum and the JVM's uptime when the events are written. */
object TraceStore {
  private val events = new ConcurrentLinkedQueue[String]()
  private val out = Option(System.getProperty("perfbench.trace.out"))
  private val listenerNs = new AtomicLong()
  @volatile private var written = false

  Runtime.getRuntime.addShutdownHook(new Thread(() => flush()))

  /** Stores the event `json` builds, timing the listener's whole work. */
  def add(json: => String): Unit = {
    val t0 = System.nanoTime()
    events.add(json)
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  def flush(): Unit = synchronized {
    if (!written) out.foreach { path =>
      written = true
      events.add(s"""{"ev":"overhead","listener_ns":${listenerNs.get},""" +
        s""""wall_ms":${ManagementFactory.getRuntimeMXBean.getUptime}}""")
      val tmp = new File(path + ".tmp")
      val w = new PrintWriter(tmp, "UTF-8")
      try events.asScala.foreach(w.println) finally w.close()
      tmp.renameTo(new File(path))
    }
  }

  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Spark-level spans and counters: jobs (with the micro-batch id that
  * caused them) and tasks. Attached from outside the program with
  * `-Dspark.extraListeners=perfbench.TraceListener`. */
class TraceListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = TraceStore.add {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    s"""{"ev":"job_start","job":${e.jobId},"t":${e.time},""" +
      s""""batch":${TraceStore.str(batch.orNull)}}"""
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    TraceStore.add(s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}""")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = TraceStore.add {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def v(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    s"""{"ev":"task","stage":${e.stageId},"start":${i.launchTime},""" +
      s""""end":${i.finishTime},"run_ms":${v(_.executorRunTime)},""" +
      s""""gc_ms":${v(_.jvmGCTime)},"sw":${v(_.shuffleWriteMetrics.bytesWritten)},""" +
      s""""spill":${v(t => t.memoryBytesSpilled + t.diskBytesSpilled)}}"""
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = TraceStore.flush()
}

/** Micro-batch progress (the engine, source and sink durations of every
  * trigger). Attached from outside the program with
  * `-Dspark.sql.streaming.streamingQueryListeners=perfbench.QueryTraceListener`. */
class QueryTraceListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    TraceStore.add(s"""{"ev":"progress","p":${e.progress.json}}""")
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
