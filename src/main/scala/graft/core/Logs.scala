package graft.core

/** Shared log hygiene for the engine mains. */
object Logs {

  /** FileStreamSink's metadata probe on csv globs logs a benign WARN
    * with a full stack trace (adjudicated noise); lower that one logger
    * to ERROR so a non-empty stderr tail always means a real failure.
    * Best-effort: a swapped logging backend makes this a no-op. */
  def silenceBenignStreamingWarn(): Unit =
    scala.util.Try(org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR))

  /** Point the embedded Derby engine's derby.log at repo scratch space,
    * once, BEFORE the engine can boot (the property is read exactly once
    * at first JDBC touch; setting it later is a no-op, and mutating it
    * from inside a query fn is racy). Call from every main/test harness
    * entry point. Respects an explicit pre-set value. */
  def derbyHomeToScratch(): Unit =
    if (System.getProperty("derby.system.home") == null) {
      val p = java.nio.file.Paths.get(sys.props("user.dir"), "target", "tmp",
        "derby-home")
      scala.util.Try(java.nio.file.Files.createDirectories(p))
      System.setProperty("derby.system.home", p.toString)
    }
}
