package perfbench

import java.nio.file.Paths

/** Runs every workload briefly in one JVM so that the JVM can archive
  * the classes they load (class-data sharing, `-XX:ArchiveClassesAtExit`)
  * once per build. Measures and reports nothing.
  *
  *     perfbench.Train <inputs dir> <work dir> <cores>
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val Array(inputs, work, cores) = argv
    val ctx = Main.newContext(cores.toInt, Paths.get(work))
    try Seq("dml_txn", "scan_mix", "stream_ingest").zipWithIndex.foreach { case (name, i) =>
      val a = Main.Args(name, 0L, 1, trace = false, Paths.get(inputs), Paths.get(work),
        Paths.get(work, "result.json"), cores.toInt)
      val (_, w, _) = Main.setUp(ctx, a, i + 1)
      try { w.window(1); w.gate() } finally w.close()
    } finally ctx.stop()
  }
}
