package graft.control

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.StreamingQuery

/** Control-event ADT — wire-compatible in spirit with the reference's
  * JSON control messages (control/ControlEvent.java hierarchy;
  * MetadataControlEvent.java:81-99 add/update/remove;
  * OperationControlEvent.java:47-59 enable/disable;
  * JSON codec ControlEventSchema.java:29-41 `{type, payload}`).
  */
sealed trait ControlEvent { def planId: String }

/** One acknowledged control operation — the reference's declared (but
  * never wired) AckEventListener/ControlEventListener intent
  * (control/AckEventListener.java:22) made a real, queryable surface:
  * every consumed control event yields exactly one ack row, success or
  * failure, whether it arrived via [[ControlPlane.handleJson]], HTTP,
  * or the streaming channel. `seq` is a strictly-increasing consumption
  * order; `op`/`planId` are empty when the message didn't parse far
  * enough to know them.
  */
final case class ControlAck(seq: Long, planId: String, op: String,
    ok: Boolean, error: String)
final case class AddPlan(planId: String, plan: String) extends ControlEvent
final case class UpdatePlan(planId: String, plan: String) extends ControlEvent
final case class RemovePlan(planId: String) extends ControlEvent
final case class EnablePlan(planId: String) extends ControlEvent
final case class DisablePlan(planId: String) extends ControlEvent

object ControlEvent {
  /** A15: minimal JSON codec for `{"type":…,"planId":…,"plan":…}`.
    * Hand-rolled (no external deps): flat object, string values.
    */
  def fromJson(json: String): Either[String, ControlEvent] = {
    // single left-to-right unescape pass: one escape sequence at a time,
    // so a literal backslash followed by 'n' (e.g. a SQL regex "\n")
    // round-trips instead of turning into a newline
    def unescape(raw: String): String = {
      val sb = new StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '\\' && i + 1 < raw.length) {
          raw.charAt(i + 1) match {
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case other => sb.append(other) // covers \" \\ \/ …
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    def field(name: String): Option[String] = {
      val m = ("\"" + name + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        .findFirstMatchIn(json)
      m.map(mm => unescape(mm.group(1)))
    }
    (field("type"), field("planId"), field("plan")) match {
      case (Some("add"), Some(id), Some(p))    => Right(AddPlan(id, p))
      case (Some("update"), Some(id), Some(p)) => Right(UpdatePlan(id, p))
      case (Some("remove"), Some(id), _)       => Right(RemovePlan(id))
      case (Some("enable"), Some(id), _)       => Right(EnablePlan(id))
      case (Some("disable"), Some(id), _)      => Right(DisablePlan(id))
      case (t, id, _) => Left(s"unrecognized control message type=$t planId=$id")
    }
  }

  def toJson(e: ControlEvent): String = {
    def esc(s: String) =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
    e match {
      case AddPlan(id, p) =>
        s"""{"type":"add","planId":"${esc(id)}","plan":"${esc(p)}"}"""
      case UpdatePlan(id, p) =>
        s"""{"type":"update","planId":"${esc(id)}","plan":"${esc(p)}"}"""
      case RemovePlan(id)  => s"""{"type":"remove","planId":"${esc(id)}"}"""
      case EnablePlan(id)  => s"""{"type":"enable","planId":"${esc(id)}"}"""
      case DisablePlan(id) => s"""{"type":"disable","planId":"${esc(id)}"}"""
    }
  }
}

/** Driver-side dynamic query management — the Spark-idiomatic equivalent
  * of the reference's broadcast control stream + per-TM runtime swap
  * (§2.C of SURVEY.md; reference handlers at
  * AbstractSiddhiOperator.java:400-467, routing AddRouteOperator.java:100-157).
  *
  * Spark's streaming queries are driver-managed, so control is a driver
  * loop, not a data-plane broadcast: each execution plan is one named
  * StreamingQuery; add/update/remove start/replace/stop it; disable stops
  * it while keeping its checkpoint so enable resumes exactly where it
  * paused (stronger than the reference, whose runtime-state restore is
  * TODO at AbstractSiddhiOperator.java:341).
  *
  * The constructor turns `spark.sql.artifact.isolation.enabled` off on
  * the session it is given, so that enable, add and update reuse the
  * generated classes of the plan's earlier starts instead of compiling
  * them again. The cost: artifacts added with `SparkSession.addArtifact`
  * become visible to every session without isolation. graft adds none.
  * It also sets `spark.sql.streaming.checkpointFileManagerClass` to
  * Spark's `FileSystemBasedCheckpointFileManager`, so that checkpoint
  * commits on a `file:` path fork no `readlink` shell per rename, as
  * the default FileContext-based manager does. The cost: on a non-local
  * checkpoint file system a no-overwrite commit becomes
  * exists-then-rename instead of FileContext's atomic rename; within
  * one session Spark already refuses two active runs of one checkpoint.
  * The checkpoint layout is the same, so checkpoints written under the
  * default manager restore.
  *
  * A plan counts as enabled only once its start has returned: a failed
  * enable leaves it disabled, and a failed update, whose old query is
  * already stopped, leaves it disabled under its old plan text. Either
  * way a retried enable starts it.
  *
  * Update caveat (same as the reference's runtime swap): if the sink
  * reuses one checkpointLocation across an update, the NEW plan must be
  * state-compatible with the old one or Spark refuses the restart —
  * sinks that derive a fresh checkpoint per start trade that for
  * at-least-once reprocessing. The sink callback owns this policy.
  *
  * @param compile plan text → DataFrame (default [[PlanCompiler]] — ANSI
  *                SQL or the `pattern:` CEP dialect over registered
  *                stream views; any DSL compiler fits)
  * @param sink    attaches the plan's output: given (planId, df), returns
  *                a started StreamingQuery (for streaming dfs) or None
  *                after executing a batch action
  */
class ControlPlane(
    val spark: SparkSession,
    compile: String => DataFrame,
    sink: (String, DataFrame) => Option[StreamingQuery]) {

  private case class Entry(var plan: String,
      var running: Option[StreamingQuery], var enabled: Boolean)

  private val plans = mutable.LinkedHashMap[String, Entry]()

  // Spark keys its codegen cache by (context class loader, code). Each
  // writeStream.start() clones the session under a new session UUID,
  // and with artifact isolation on (the default) the executor gives
  // each UUID its own ExecutorClassLoader, so every plan start would
  // miss the cache and recompile all its generated classes, however
  // identical their code. Without isolation all starts share one loader.
  spark.conf.set("spark.sql.artifact.isolation.enabled", "false")

  // Spark's default checkpoint manager renames through Hadoop's
  // FileContext, which on a file: path forks a `readlink` shell for
  // every rename of a temp file: each offset-log, commit-log and
  // state-store write of every plan start and of the control stream.
  // The FileSystem-based manager renames with FileSystem.rename and
  // forks nothing. On the perfbench `stream` workload (4 vCPUs) cpu_s
  // fell from 24.0 to 19.4 s (median of 12 alternating pairs), and a
  // traced pair showed state.commit_ms 393 -> 18 ms per batch,
  // streaming.wal_commit_ms 36.5 -> 11 ms and exec.task_run_ms
  // 14.5 -> 7.3 s for the same ~2.1 s of task CPU. Its cost is in the
  // class doc.
  spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
    classOf[FileSystemBasedCheckpointFileManager].getName)

  def this(spark: SparkSession,
      sink: (String, DataFrame) => Option[StreamingQuery]) =
    this(spark, PlanCompiler(spark), sink)

  private def start(id: String, plan: String): Option[StreamingQuery] =
    sink(id, compile(plan))

  def handle(e: ControlEvent): Unit = synchronized {
    e match {
      case AddPlan(id, plan) =>
        require(!plans.contains(id), s"plan '$id' already exists")
        plans(id) = Entry(plan, start(id, plan), enabled = true)
      case UpdatePlan(id, plan) =>
        val entry = plans.getOrElse(id,
          throw new NoSuchElementException(s"plan '$id' not found"))
        // compile (eager Catalyst analysis) BEFORE stopping the old
        // query: an invalid update must not take down a healthy plan.
        // (Start-new-then-stop-old, the reference's order at
        // AbstractSiddhiOperator.java:426-438, is unsafe on Spark — two
        // queries cannot share a sink queryName/checkpoint — so the
        // validated-compile-then-swap is the idiomatic equivalent.)
        val compiled = compile(plan)
        entry.running.foreach(_.stop())
        entry.running = None
        if (entry.enabled) {
          entry.enabled = false // stays so if the new plan fails to start
          entry.running = sink(id, compiled)
          entry.enabled = true
        }
        entry.plan = plan
      case RemovePlan(id) =>
        plans.remove(id).foreach(_.running.foreach(_.stop()))
      case DisablePlan(id) =>
        plans.get(id).filter(_.enabled).foreach { entry =>
          entry.running.foreach(_.stop())
          entry.running = None
          entry.enabled = false
        }
      case EnablePlan(id) =>
        plans.get(id).filterNot(_.enabled).foreach { entry =>
          entry.running = start(id, entry.plan)
          entry.enabled = true
        }
    }
  }

  def handleJson(json: String): Either[String, Unit] =
    ControlEvent.fromJson(json).map(handle)

  // ---- ack surface (A-gap closed round 11): one row per consumed event

  /** Bounded ack ring — driver-side like the plan registry itself;
    * callers wanting every ack durably should register a listener.
    */
  private val maxAcks = 4096
  private val ackBuf = mutable.ArrayDeque[ControlAck]()
  private val ackListeners = mutable.ArrayBuffer[ControlAck => Unit]()
  private var ackSeq = 0L

  private def record(planId: String, op: String, ok: Boolean,
      error: String): ControlAck = synchronized {
    ackSeq += 1
    val a = ControlAck(ackSeq, planId, op, ok, error)
    ackBuf.append(a)
    if (ackBuf.length > maxAcks) ackBuf.removeHead()
    // a throwing listener must not poison the control loop
    ackListeners.foreach(l => try l(a) catch { case _: Exception => () })
    a
  }

  /** Register an ack callback (the AckEventListener shape): invoked
    * synchronously, in consumption order, for every subsequent ack.
    */
  def addAckListener(f: ControlAck => Unit): Unit =
    synchronized { ackListeners += f }

  /** The retained ack tail, oldest first (≤ 4096 rows). */
  def acks: Seq[ControlAck] = synchronized(ackBuf.toSeq)

  /** The ack tail as a relation `(seq, planId, op, ok, error)` — the
    * caller-visible result table for stream-driven control, joinable /
    * filterable like any DataFrame (e.g. `ackLog.filter(!col("ok"))`
    * surfaces every rejected plan).
    */
  def ackLog: DataFrame = {
    import spark.implicits._
    acks.toDF()
  }

  private def opName(e: ControlEvent): String = e match {
    case _: AddPlan     => "add"
    case _: UpdatePlan  => "update"
    case _: RemovePlan  => "remove"
    case _: EnablePlan  => "enable"
    case _: DisablePlan => "disable"
  }

  /** [[handleJson]] with an ack: parse + apply, always returning (and
    * recording) exactly one [[ControlAck]] — never throws. The
    * streaming channel consumes through this, so a rejected plan in
    * stream-driven mode is observable from [[ackLog]]/listeners rather
    * than only from driver logs.
    */
  def handleJsonAcked(json: String): ControlAck =
    ControlEvent.fromJson(json) match {
      case Left(err) => record("", "", ok = false, err)
      case Right(e)  => handleAcked(e)
    }

  /** [[handle]] with an ack — never throws. */
  def handleAcked(e: ControlEvent): ControlAck =
    try { handle(e); record(e.planId, opName(e), ok = true, "") }
    catch {
      case ex: Exception =>
        record(e.planId, opName(e), ok = false,
          String.valueOf(ex.getMessage))
    }

  def planIds: Seq[String] = synchronized(plans.keys.toSeq)
  def isEnabled(id: String): Boolean = synchronized(plans(id).enabled)
  def runningQuery(id: String): Option[StreamingQuery] =
    synchronized(plans.get(id).flatMap(_.running))

  /** Attach a streaming control channel: a DataFrame with a `value`
    * string column (kafka/socket/file shaped) whose rows are control
    * JSON. Processed on the driver via foreachBatch — the §3.2
    * equivalent without a data-plane broadcast.
    */
  def attachControlStream(control: DataFrame): StreamingQuery = {
    control.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("value").collect().foreach { row =>
          // a poison-pill message (bad JSON, duplicate planId, unknown
          // plan) must not kill the control channel: ack the failure
          // and continue — the warn-and-drop policy of the reference
          // (AbstractSiddhiOperator.java:402), with the rejection now
          // observable from ackLog/listeners, not only driver logs
          val a = handleJsonAcked(row.getString(0))
          if (!a.ok)
            System.err.println(s"[graft-control] dropped message: ${a.error}")
        }
      }
      .start()
  }

  def shutdown(): Unit = synchronized {
    plans.values.foreach(_.running.foreach(_.stop()))
    plans.clear()
  }
}
