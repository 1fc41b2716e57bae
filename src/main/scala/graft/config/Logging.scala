package graft.config

import java.io.PrintStream
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicReference
import java.util.{logging => jul}

/** F10 UNIFIED LOGGING — the one §2-A row rounds 1–10 left unported
  * (reference: /root/reference/src/pyconnect/config.py:283-351). The
  * reference routes every log line, warning, uncaught exception, and
  * stray print through ONE configured sink with an env-driven level,
  * a fixed human format, and an opt-out JSON ("serialize") mode. The
  * JVM re-expression keeps each behavior with its idiomatic seam:
  *
  *  - `Log.log/debug/info/warn/error` — the library's own logger,
  *    level-gated and formatted exactly like the reference's handler
  *    (`LEVEL<8 | DD_MM HH:mm:ss | thread:name:function:line |
  *    'message'`, config.py:318), or one JSON object per line when
  *    serialize is on (loguru's serialize mode, default ON in the
  *    reference — config.py:313);
  *  - env knobs `GRAFT_LOG_LEVEL` (default DEBUG), `GRAFT_LOG_COLORIZE`
  *    (default off), `GRAFT_LOG_SERIALIZE` (default on) with the
  *    reference's exact falsy set {0, f, n, false, no},
  *    case-insensitive (config.py:310-314);
  *  - `configureLogging(useStderr)` — picks the sink stream
  *    (config.py:301 stderr-for-pipes rationale), installs a
  *    java.util.logging root handler that re-emits third-party JUL
  *    records through the same sink (the InterceptHandler port,
  *    config.py:283-297; log4j interception would need a log4j dep on
  *    the compile path — JUL is the zero-dep JVM seam), and installs a
  *    default uncaught-exception handler that logs ERROR
  *    ("Unhandled Exception Occurred!", config.py:347-349). The
  *    reference's sys.exit(1) is NOT ported: killing the JVM from a
  *    library hook would take down a whole Spark executor; the
  *    handler logs and lets Spark's own task-failure machinery rule.
  *    The print/showwarning overrides are Python-only seams (the JVM
  *    has no global print hook) — documented, not stubbed.
  *
  * Everything is pure-function testable: the format line, the falsy
  * parsing, the level gate, and the JUL bridge are pinned in
  * LoggingSpec against reference-derived goldens. */
object Logging {

  /** Reference level order (loguru defaults; TRACE < DEBUG < INFO <
    * WARNING < ERROR < CRITICAL — SUCCESS sits with INFO). */
  val levels: Map[String, Int] = Map(
    "TRACE" -> 5, "DEBUG" -> 10, "INFO" -> 20, "SUCCESS" -> 25,
    "WARNING" -> 30, "ERROR" -> 40, "CRITICAL" -> 50)

  /** The reference's exact falsy set, case-insensitive
    * (config.py:311-314): everything else is true. */
  def truthy(s: String): Boolean =
    !Set("0", "f", "n", "false", "no").contains(s.trim.toLowerCase)

  final case class LogConfig(level: String, colorize: Boolean,
      serialize: Boolean, useStderr: Boolean) {
    val threshold: Int = levels.getOrElse(level.toUpperCase, 10)
  }

  /** Read the env knobs exactly as configure_logging does
    * (config.py:308-314): level default DEBUG, colorize default off,
    * serialize default ON. */
  def fromEnv(env: Map[String, String] = sys.env,
      useStderr: Boolean = false): LogConfig =
    LogConfig(
      level = env.getOrElse("GRAFT_LOG_LEVEL", "DEBUG"),
      colorize = truthy(env.getOrElse("GRAFT_LOG_COLORIZE", "f")),
      serialize = truthy(env.getOrElse("GRAFT_LOG_SERIALIZE", "yes")),
      useStderr = useStderr)

  private val tsFmt =
    DateTimeFormatter.ofPattern("dd_MM HH:mm:ss").withZone(ZoneOffset.UTC)

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** One formatted line — the reference handler's format string
    * (config.py:318) with the caller triple in the middle slot. */
  def formatLine(level: String, at: Instant, thread: String,
      name: String, function: String, line: Int, message: String)
      : String =
    f"${level.toUpperCase}%-8s | ${tsFmt.format(at)} | " +
      f"$thread%-5s:$name:$function:$line | '$message'"

  /** One JSON record per line — the serialize mode (default in the
    * reference); flat fields, deterministic key order. */
  def serializeLine(level: String, at: Instant, thread: String,
      name: String, function: String, line: Int, message: String)
      : String =
    s"""{"level":"${jsonEscape(level.toUpperCase)}",""" +
      s""""time":"${tsFmt.format(at)}",""" +
      s""""thread":"${jsonEscape(thread)}",""" +
      s""""name":"${jsonEscape(name)}",""" +
      s""""function":"${jsonEscape(function)}",""" +
      s""""line":$line,""" +
      s""""message":"${jsonEscape(message)}"}"""

  private val state =
    new AtomicReference[(LogConfig, PrintStream)](
      (fromEnv(), System.out))

  /** Render + emit through the configured sink if `level` clears the
    * threshold. Caller site (name/function/line) is resolved from the
    * stack the way InterceptHandler walks frames (config.py:291-295). */
  def log(level: String, message: String,
      at: Instant = Instant.now()): Unit = {
    val (cfg, sink) = state.get()
    // Unknown level names fall back to INFO (20), NOT 0: the reference
    // falls back to the stdlib numeric level and still logs the record
    // (config.py:286-289) — mapping to 0 would silently drop it below
    // every threshold (advice r11).
    if (levels.getOrElse(level.toUpperCase, 20) >= cfg.threshold) {
      val caller = Thread.currentThread().getStackTrace
        .drop(1)
        .find(f => !f.getClassName.startsWith("graft.config.Logging") &&
          !f.getClassName.startsWith("java.lang.Thread"))
      val (nm, fn, ln) = caller
        .map(f => (f.getClassName, f.getMethodName, f.getLineNumber))
        .getOrElse(("?", "?", 0))
      val th = Thread.currentThread().getName
      val out =
        if (cfg.serialize) serializeLine(level, at, th, nm, fn, ln, message)
        else formatLine(level, at, th, nm, fn, ln, message)
      sink.println(out)
    }
  }

  def debug(msg: String): Unit = log("DEBUG", msg)
  def info(msg: String): Unit = log("INFO", msg)
  def warn(msg: String): Unit = log("WARNING", msg)
  def error(msg: String): Unit = log("ERROR", msg)

  /** JUL → unified-sink bridge (the InterceptHandler port): maps the
    * JUL level onto the reference scale, then re-emits through
    * [[log]] so third-party JUL records obey the same level gate,
    * format, and sink. */
  final class InterceptHandler extends jul.Handler {
    // Formatter.formatMessage substitutes {0}-style parameters and
    // resolves resource bundles — JUL's raw getMessage does NOT (the
    // reference relies on Python's record.getMessage() doing the
    // substitution, config.py:296; advice r11). A bare instance is
    // enough: formatMessage is a concrete template method.
    private val fmt = new jul.Formatter {
      override def format(r: jul.LogRecord): String = formatMessage(r)
    }
    override def publish(record: jul.LogRecord): Unit = {
      if (record == null) return
      val lvl = julLevelName(record.getLevel)
      val base = fmt.formatMessage(record)
      // the reference forwards exc_info (config.py:297) — append the
      // thrown stack trace when present
      val msg = Option(record.getThrown) match {
        case Some(t) =>
          val sw = new java.io.StringWriter()
          t.printStackTrace(new java.io.PrintWriter(sw))
          s"$base\n${sw.toString.stripLineEnd}"
        case None => base
      }
      log(lvl, msg)
    }
    override def flush(): Unit = ()
    override def close(): Unit = ()
  }

  /** JUL level → reference level name (closest-by-severity; the
    * reference looks the stdlib level name up in loguru and falls
    * back to the numeric level, config.py:286-289). */
  def julLevelName(l: jul.Level): String =
    if (l.intValue >= jul.Level.SEVERE.intValue) "ERROR"
    else if (l.intValue >= jul.Level.WARNING.intValue) "WARNING"
    else if (l.intValue >= jul.Level.INFO.intValue) "INFO"
    else if (l.intValue >= jul.Level.FINE.intValue) "DEBUG"
    else "TRACE"

  /** configure_logging parity (config.py:300-332): resolve env knobs,
    * point the sink at stdout or stderr, swap the JUL root handlers
    * for the intercept bridge, and install the uncaught-exception
    * logger. Idempotent; returns the applied config. */
  def configureLogging(useStderr: Boolean = false,
      env: Map[String, String] = sys.env): LogConfig = {
    val cfg = fromEnv(env, useStderr)
    state.set((cfg, if (useStderr) System.err else System.out))
    val root = jul.Logger.getLogger("")
    root.getHandlers.foreach(root.removeHandler)
    root.addHandler(new InterceptHandler)
    root.setLevel(jul.Level.ALL)
    Thread.setDefaultUncaughtExceptionHandler(
      new Thread.UncaughtExceptionHandler {
        override def uncaughtException(t: Thread, e: Throwable): Unit =
          log("ERROR",
            s"Unhandled Exception Occurred! ${e.getClass.getName}: " +
              s"${e.getMessage} (thread ${t.getName})")
      })
    cfg
  }

  /** Test seam: point the sink at an arbitrary stream with an explicit
    * config (no env, no global JUL mutation). */
  def configureForTest(cfg: LogConfig, sink: PrintStream): Unit =
    state.set((cfg, sink))
}
