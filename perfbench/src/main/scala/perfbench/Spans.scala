package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable.ArrayBuffer

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Spans of the traced phase, kept in memory and written out as JSON lines
  * by [[close]]. A span is (id, parent, op, layer, name, start, end), times
  * in epoch milliseconds. The benchmark records a span around each call it
  * makes into a layer (spec load, engine/query build, the action) and
  * files the jobs, stages and tasks its listeners saw under them.
  */
final class Spans(path: Option[String]) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val out = ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0

  def epochMs(nanoTime: Long): Double = baseMs + (nanoTime - baseNs) / 1e6

  private def add(parent: Int, op: Int, layer: String, name: String,
      start: Double, end: Double): Int = {
    val id = nextId
    nextId += 1
    out += Map("id" -> id, "parent" -> parent, "op" -> op, "layer" -> layer,
      "name" -> name, "start" -> start, "end" -> end)
    id
  }

  def record(opId: Int, op: Runner.OpSpec, t: Runner.OpTiming, ev: OpEvents): Unit =
    if (path.isDefined) {
      val t0 = epochMs(t.t0)
      val buildStart = epochMs(t.t0 + t.specNs)
      val actionStart = epochMs(t.actionStart)
      val root = add(-1, opId, "bench", op.name, t0, epochMs(t.t1))
      if (t.specNs > 0) add(root, opId, "spec", "ConfigLoader.load", t0, buildStart)
      val build = add(root, opId, if (op.query.isDefined) "ops" else "engine",
        if (op.query.isDefined) "query" else "Engine.run", buildStart, actionStart)
      val action = add(root, opId, "action", op.sink, actionStart, epochMs(t.t1))
      val jobOf = scala.collection.mutable.Map.empty[Int, Int]
      ev.jobs.foreach { j =>
        val id = add(if (j.start < actionStart) build else action, opId, "job",
          s"job ${j.id}", j.start.toDouble, j.end.toDouble)
        j.stageIds.foreach(jobOf.getOrElseUpdate(_, id))
      }
      val stageSpan = ev.stages.map { s =>
        s.id -> add(jobOf.getOrElse(s.id, action), opId, "stage", s"stage ${s.id}",
          s.start.toDouble, s.end.toDouble)
      }.toMap
      ev.tasks.foreach { k =>
        add(stageSpan.getOrElse(k.stageId, action), opId, "task", s"task ${k.stageId}",
          k.launch.toDouble, k.finish.toDouble)
      }
    }

  def close(): Unit = path.foreach { p =>
    val w = new BufferedWriter(new FileWriter(p))
    try out.foreach { s => w.write(Serialization.write(s)(DefaultFormats)); w.write("\n") } finally w.close()
  }
}
