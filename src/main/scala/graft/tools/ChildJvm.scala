package graft.tools

/** Shared fresh-child-JVM runner for the measurement harnesses
  * ([[graft.Bench]] adjudication, [[ScaleProbe]]).
  * One implementation of the spawn/drain/timeout protocol so a fix in
  * the protocol (e.g. the r11 hung-child deadlock, where stdout was
  * drained to EOF on the calling thread BEFORE waitFor, so a hung child
  * blocked forever and the timeout never fired) lands in both at once.
  *
  * Protocol: child gets this JVM's classpath and its `--add-opens` /
  * `-Xmx` / `-XX` / `-D` flags; both pipes drain on daemon threads;
  * `waitFor(timeout)` then `destroyForcibly` on expiry; the result is
  * the first stdout line containing `marker` (the caller parses it —
  * extraction stays caller-specific, the spawn protocol does not).
  */
object ChildJvm {

  /** Run `mainClass` in a fresh JVM; return the first stdout line
    * containing `marker`, or None on timeout / spawn failure. `env`
    * entries are set in the child; `dropEnv` names are removed (recursion
    * guards). `cwd` defaults to a fresh temp dir so children that write
    * artifacts into their working directory (e.g. Bench's
    * bench_result.json) cannot clobber the caller's. */
  def runForLine(mainClass: String, env: Map[String, String],
                 dropEnv: Seq[String], marker: String, timeoutSec: Long,
                 cwd: Option[java.io.File] = None): Option[String] = try {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("-Xmx") ||
        a.startsWith("-XX") || a.startsWith("-D"))
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    // Absolutize classpath entries against the PARENT's cwd: the child
    // runs from a temp dir, so a parent launched with a relative -cp
    // (e.g. `java -cp target/...` from the repo root) would otherwise
    // spawn children that die on class-not-found and every adjudication
    // reads -1.0. Wildcard entries pass through unchanged (the `*` is
    // just a path segment; the child JVM expands it).
    val cp = sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map { e =>
        val p = java.nio.file.Paths.get(e)
        if (p.isAbsolute) e
        else java.nio.file.Paths.get(sys.props("user.dir"))
          .resolve(p).toString
      }.mkString(java.io.File.pathSeparator)
    val cmd = (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", cp, mainClass)).asJava
    val pb = new ProcessBuilder(cmd)
    pb.directory(cwd.getOrElse(java.nio.file.Files
      .createTempDirectory("graft-child").toFile))
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    dropEnv.foreach(pb.environment().remove)
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val outDrain = new Thread(() => try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var l = r.readLine()
      while (l != null) { lines.add(l); l = r.readLine() }
    } catch { case _: Throwable => })
    val errDrain = new Thread(() => try {
      val es = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (es.read(buf) >= 0) {}
    } catch { case _: Throwable => })
    outDrain.setDaemon(true); outDrain.start()
    errDrain.setDaemon(true); errDrain.start()
    val finished =
      proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) { proc.destroyForcibly(); None }
    else {
      outDrain.join(5000) // child exited; let the drain hit EOF
      lines.asScala.find(_.contains(marker))
    }
  } catch { case _: Throwable => None }
}
