package graft.core

import scala.collection.immutable.ListMap

import graft.config.Logging
import graft.sources.Json

/** Connector run-loop state machine — reference parity with pyconnect's
  * `core.py` (SURVEY.md §2-A C1–C8).
  *
  * Contract replicated:
  *  - Status: NOT_YET_RUNNING → RUNNING → STOPPED | CRASHED
  *    (`core.py:75-99`);
  *  - a finished connector must not be restarted (`core.py:146-149`);
  *  - callbacks return Option[Status]; returning CRASHED without a
  *    recorded exception raises NoCrashInfo (`core.py:186-220,67-72`);
  *  - exceptions during the loop set CRASHED + statusInfo
  *    (`core.py:222-245`);
  *  - `onCrashDuringRun` may return RUNNING to resume
  *    (`core.py:258-269`);
  *  - `onStartup`/`onShutdown` hooks around the loop; after the loop the
  *    crash cause is re-raised and `close()` ALWAYS runs
  *    (`core.py:133-184,271-304`).
  */
sealed trait Status
object Status {
  case object NotYetRunning extends Status
  case object Running extends Status
  case object Stopped extends Status
  case object Crashed extends Status
}

final class NoCrashInfo extends RuntimeException(
  "callback returned CRASHED but no exception was recorded")

/** One snapshot of a connector's counters, logged once at `close()`.
  *
  * @param lag per assigned partition, end offset minus committed offset
  *   (a source consumes nothing and reports none)
  * @param lastFlushToCommitMs the last completed flush-then-commit: for a
  *   sink from the start of `onFlush` to the end of the commit, for a
  *   source from producing its offset record (delivered when produced)
  *   to the end of the producer flush after it
  */
final case class ConnectorMetrics(role: String, produced: Long,
    consumed: Long, flushes: Long, commits: Long, commitRetries: Long,
    crashes: Long, lag: Map[TopicPartition, Long],
    lastFlushToCommitMs: Option[Double]) {
  def json: String = Json.render(ListMap(
    "role" -> role, "produced" -> produced, "consumed" -> consumed,
    "flushes" -> flushes, "commits" -> commits,
    "commit_retries" -> commitRetries, "crashes" -> crashes,
    "lag" -> ListMap(lag.toSeq.sortBy(e => (e._1.topic, e._1.partition))
      .map { case (tp, n) => s"${tp.topic}-${tp.partition}" -> n }: _*),
    "last_flush_to_commit_ms" -> lastFlushToCommitMs.getOrElse(null)))
}

abstract class BaseConnector {

  @volatile private var _status: Status = Status.NotYetRunning
  @volatile private var _statusInfo: Option[Throwable] = None
  private var _crashes = 0L

  def status: Status = _status
  def statusInfo: Option[Throwable] = _statusInfo
  /** Times the connector entered CRASHED (a resumed loop can crash again). */
  protected def crashCount: Long = _crashes
  def isRunning: Boolean = _status == Status.Running

  /** Ask the loop to stop gracefully (the reference's user-returned
    * STOPPED status). */
  def stop(): Unit = if (_status == Status.Running) _status = Status.Stopped

  // ---- hooks (all optional) -------------------------------------------
  protected def onStartup(): Unit = {}
  protected def onShutdown(): Unit = {}
  /** May return Some(Running) to resume after a crash (`core.py:258-269`). */
  protected def onCrashDuringRun(): Option[Status] = None
  /** One loop iteration; Some(status) forces a transition. */
  protected def runOnce(): Option[Status]
  /** Resource cleanup; must tolerate double-close (`pyconnectsink.py:351-356`). */
  def close(): Unit = {}

  def metrics: ConnectorMetrics

  /** The one metrics line of a connector's life, written by `close()`. */
  protected def logMetrics(): Unit = Logging.info(s"connector metrics ${metrics.json}")

  private def crash(): Unit = {
    if (_status != Status.Crashed) _crashes += 1
    _status = Status.Crashed
  }

  /** Apply a callback result to the state machine (`core.py:186-220`). */
  protected def handleCallbackResult(result: Option[Status]): Unit =
    result.foreach {
      case Status.Crashed =>
        crash()
        throw _statusInfo.getOrElse(new NoCrashInfo)
      case s => _status = s
    }

  protected def recordCrash(t: Throwable): Unit = {
    crash()
    _statusInfo = Some(t)
  }

  def run(): Unit = {
    // no restart of finished connectors (`core.py:146-149`)
    require(_status == Status.NotYetRunning,
      s"connector in status ${_status} cannot be run again")
    _status = Status.Running
    try {
      safely { onStartup(); beforeRunLoop() }
      while (isRunning)
        safely(handleCallbackResult(runOnce()))
      afterRunLoop()
    } finally {
      try safely(onShutdown())
      finally close()
    }
    // re-raise crash cause (`core.py:171-184`)
    if (_status == Status.Crashed) throw _statusInfo.getOrElse(new NoCrashInfo)
  }

  protected def beforeRunLoop(): Unit = {}
  protected def afterRunLoop(): Unit = {}

  /** Exception routing (`core.py:222-245`): record CRASHED + cause, then
    * give `onCrashDuringRun` a chance to resurrect the loop. */
  private def safely(body: => Unit): Unit =
    try body
    catch {
      case _: InterruptedException => _status = Status.Stopped
      case t: Throwable =>
        if (_statusInfo.isEmpty) recordCrash(t) else crash()
        if (_status == Status.Crashed)
          try onCrashDuringRun().foreach { s =>
            _status = s
            if (s == Status.Running) _statusInfo = None
          } catch { case t2: Throwable => recordCrash(t2) }
    }
}
