package graft.agg

import org.scalatest.funsuite.AnyFunSuite

/**
 * The cluster install paths, tested for real: extensions are applied
 * only when a SparkSession is CONSTRUCTED, so the shared test session
 * can't exercise them — this spec forks a fresh JVM running
 * [[graft.ExtensionsSmoke]], whose session uses `graft_*` SQL with no
 * register() call and must fuse explode into the sketch aggregates.
 */
class ExtensionsInstallSpec extends AnyFunSuite {

  test("a fresh session with spark.sql.extensions=GraftExtensions serves graft_* SQL unregistered") {
    smoke("config")
  }

  test("a fresh session with no configuration gets GraftExtensions from the jar's service file") {
    smoke()
  }

  private def smoke(args: String*): Unit = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cp = Seq("target/scala-2.13/classes",
      sys.props("java.class.path")).mkString(java.io.File.pathSeparator)
    val cmd = (Seq(javaBin) ++ addOpens ++
      Seq("-Xmx2g", "-cp", cp, "graft.ExtensionsSmoke") ++ args).toList
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // drain on a background thread so a wedged child can't hang the
    // suite past the waitFor timeout below (readAllBytes blocks to EOF)
    val outBuf = new java.io.ByteArrayOutputStream()
    val drainer = new Thread(() => proc.getInputStream.transferTo(outBuf), "ext-smoke-drain")
    drainer.setDaemon(true)
    drainer.start()
    val exited = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    drainer.join(10000)
    val out = outBuf.toString(java.nio.charset.StandardCharsets.UTF_8)
    assert(exited, s"forked extensions smoke timed out:\n${out.takeRight(4000)}")
    assert(proc.exitValue() == 0, s"forked JVM failed:\n${out.takeRight(4000)}")
    assert(out.contains("EXTENSIONS_OK"), s"marker missing:\n${out.takeRight(2000)}")
  }
}
