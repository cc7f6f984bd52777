package graft.runtime

import java.util.concurrent.locks.ReentrantLock

/** T6 — query lifecycle management: one relay task per environment, started
  * and stopped under a lifecycle gate so reload storms can never leave two
  * pollers running for the same environment (the reference's stress-tested
  * invariant — ChangeTrackingBackgroundService.cs:42-49,266-325 and
  * DuplicatePollerStressTests).
  *
  * `start` is idempotent per name; `applyDiff` reacts to an [[EnvLoader]]
  * scan diff by stopping removed/updated environments and (re)starting
  * added/updated ones.
  */
final class RelayManager[H](
    startTask: String => H,
    stopTask: H => Unit,
    stopTimeoutMillis: Long = 5000,
    /** Startup gate (ConfigurationValidator.cs:53-60): an environment whose
      * config validates with ERRORS never starts a task — the reference
      * throws at startup and refuses reloads into a broken config; warnings
      * never block. Defaults to always-ok for callers that validate
      * upstream. */
    validateEnv: String => Config.Validation = _ => Config.Validation(Nil, Nil)) {

  private val gate = new ReentrantLock()
  private val running = scala.collection.mutable.Map[String, H]()

  /** Stop with the configured budget (reference: 5 s per environment task,
    * Program.cs:106-109): a wedged task must not block the lifecycle gate —
    * and every start/stop of every other environment — forever. */
  private def stopBounded(h: H): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    try Await.result(Future(stopTask(h)), Duration(stopTimeoutMillis, "ms"))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[relay-manager] stop exceeded ${stopTimeoutMillis} ms; abandoning task")
    }
  }

  def isRunning(name: String): Boolean = {
    gate.lock(); try running.contains(name.toLowerCase) finally gate.unlock()
  }

  def activeCount: Int = { gate.lock(); try running.size finally gate.unlock() }

  /** Start the environment task unless one is already live (never two
    * pollers per env) or its config fails validation. Returns true when a
    * new task was started. */
  def start(name: String): Boolean = {
    gate.lock()
    try {
      val key = name.toLowerCase
      if (running.contains(key) || !startable(name)) false
      else { running(key) = startTask(name); true }
    } finally gate.unlock()
  }

  private def startable(name: String): Boolean = {
    val v = validateEnv(name)
    if (!v.ok) System.err.println(
      s"[relay-manager] refusing to start '$name': ${v.errors.mkString("; ")}")
    v.ok
  }

  /** All-or-nothing startup, the reference's boot contract
    * (ConfigurationValidator.cs:53-60 via Program.cs): validate EVERY
    * environment first and throw on any error — no partial fleet comes up
    * against a half-broken deployment. Warnings are reported by the
    * validator, never fatal. */
  def startAll(names: Seq[String]): Unit = {
    val errs = names.flatMap(n => validateEnv(n).errors.map(e => s"$n: $e"))
    if (errs.nonEmpty)
      throw new IllegalStateException(
        s"configuration validation failed with ${errs.size} error(s): ${errs.mkString("; ")}")
    names.foreach(start)
  }

  def stop(name: String): Boolean = {
    gate.lock()
    try running.remove(name.toLowerCase) match {
      case Some(h) => stopBounded(h); true
      case None => false
    } finally gate.unlock()
  }

  /** Hot-reload reaction: removed → stop; updated → stop + start;
    * added → start. All under the same gate. Removals are applied FIRST —
    * a case-only rename of an environment file arrives as
    * Added("prod") + Removed("Prod"), which share a lowercased key: Added
    * first would be skipped as already-running and the Removed would then
    * stop the live task, permanently parking the environment. */
  def applyDiff(changes: Seq[EnvLoader.Change]): Unit = {
    gate.lock()
    try {
      changes.collect { case EnvLoader.Removed(n) => n }.foreach { n =>
        running.remove(n.toLowerCase).foreach(stopBounded)
      }
      // An update into an INVALID config stops the old task and parks the
      // environment (running a stale config would silently ignore the
      // operator's edit); it restarts on the next valid reload.
      changes.collect { case EnvLoader.Updated(n) => n }.foreach { n =>
        running.remove(n.toLowerCase).foreach(stopBounded)
        if (startable(n)) running(n.toLowerCase) = startTask(n)
      }
      changes.collect { case EnvLoader.Added(n) => n }.foreach { n =>
        if (!running.contains(n.toLowerCase) && startable(n))
          running(n.toLowerCase) = startTask(n)
      }
    } finally gate.unlock()
  }

  /** Shutdown: stop everything (each stop individually bounded; the host's
    * overall budget is the caller's concern). */
  def stopAll(): Unit = {
    gate.lock()
    try { running.values.foreach(stopBounded); running.clear() } finally gate.unlock()
  }
}
