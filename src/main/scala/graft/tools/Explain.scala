package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.{SparkEntry, Sessions}

/** Dev tool: the formatted physical plan (`explain("formatted")`) of each
  * listed query, to stdout or to `<outDir>/<query>_<suffix>.txt` — the
  * plan evidence of an optimization (`plans/r11/<query>_{before,after}.txt`).
  * One JVM for the whole list. Per-query build / plan / execute times and
  * replay micro-batches come from `perfbench/run.py --profile q_a,q_b`.
  *
  * The streaming replays are skipped for the same reason PlanSweep skips
  * them: building one EXECUTES its stream and the returned frame is the
  * memory sink's LocalTableScan — no batch plan to dump. Queries whose
  * build phase runs side-effect actions (the ANN persistence gates) still
  * dump fine; they are just slower to build.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [all|q1,q2,…] [outDir suffix]
  *   With no query list, dumps every non-streaming registered query.
  *   Exits nonzero if any plan failed to build.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2 || args.length == 4,
      "usage: runMain graft.tools.Explain <sfDir> [all|q1,q2,…] " +
        "[outDir suffix]")
    val sfDir = args(0)
    val names = Gates.queryList(args.lift(1),
      SparkEntry.queries.keys.toSeq.sorted)
    val out = args.lift(2).map(Paths.get(_))
    val spark = Sessions.start()
    out.foreach(Files.createDirectories(_))
    var failed = 0
    for (name <- names) {
      if (name.startsWith("q_stream_")) {
        System.err.println(s"[explain] skip (streaming replay): $name")
      } else {
        try {
          val txt = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
          out match {
            case None => println(s"== $name ==\n$txt")
            case Some(dir) =>
              val f = dir.resolve(s"${name}_${args(3)}.txt")
              Files.write(f, txt.getBytes(StandardCharsets.UTF_8))
              System.err.println(s"[explain] wrote $f")
          }
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[explain] FAIL $name: ${e.getMessage}")
        }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
