package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsBytes(v))

  def read(path: String): Map[String, Any] =
    mapper.readValue(new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8), classOf[Map[String, Any]])
}

/** Spans around the harness's calls into the engine's layers. Off unless
  * the run is traced; spans stay in memory until [[dump]]. Spark jobs and
  * stages become child spans through a local property the calling thread
  * carries (see [[Probe]]). */
object Trace {
  val SpanKey = "graftbench.span"
  @volatile var on = false

  final case class Span(id: Long, parent: Long, name: String, layer: String,
      startMs: Double, endMs: Double)

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](sc: SparkContext, name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get
      val parentProp = sc.getLocalProperty(SpanKey)
      current.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val start = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, layer, start, Clock.nowMs))
        current.set(parent)
        sc.setLocalProperty(SpanKey, parentProp)
      }
    }

  /** Record an already-measured span (an HTTP request timed by its client). */
  def record(name: String, layer: String, startMs: Double, endMs: Double): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, layer, startMs, endMs))

  /** Writes harness spans and engine spans as JSON lines. */
  def dump(path: String, engine: Iterable[EngineSpan]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try {
      spans.asScala.foreach { s =>
        w.write(Json.mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs)))
        w.newLine()
      }
      engine.foreach { e =>
        w.write(Json.mapper.writeValueAsString(Map("id" -> s"${e.kind}-${e.id}",
          "parent" -> (if (e.kind == "stage" && e.parentJob >= 0) s"job-${e.parentJob}"
                       else e.span),
          "name" -> s"${e.kind} ${e.id}", "layer" -> "spark", "pool" -> e.pool,
          "query" -> e.query,
          "tasks" -> e.tasks, "start_ms" -> e.startMs, "end_ms" -> e.endMs)))
        w.newLine()
      }
    } finally w.close()
  }
}
