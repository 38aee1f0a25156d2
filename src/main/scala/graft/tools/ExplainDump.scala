package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the `.explain("formatted")` physical plan of EVERY action a gate
  * executes (optimization-round plan evidence):
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt -batch 'runMain graft.tools.ExplainDump plans/r07 before dedup_exact ...'
  *
  * Writes plans/r07/<gate>_<tag>.txt. A QueryExecutionListener captures
  * the plans, so gates that materialize intermediate frames internally
  * (persist + count inside the op) still surface every executed plan —
  * including the ones the bench actually times — without changing any
  * op code path. Each gate runs in a FRESH session so cross-gate caches
  * (SparkEntry.indexOf / Oracle.postings) don't mask the plan the bench
  * sees on first execution.
  *
  * Dumps diff cleanly across builds: per-run ids (expressions,
  * `plan_id`, lambdas, and the codegen and query-stage ids AQE assigns
  * in completion order) become `x`, runtime `Statistics(...)` are
  * dropped, and action durations go to stdout. AQE choices that race
  * on those statistics (which of two equal-sized join sides to
  * broadcast) still vary, so compare against more than one run.
  */
object ExplainDump {
  /** The plan text with per-run ids and statistics replaced. */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "\\$Lambda\\$x")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : x]")
      .replaceAll("(\\(\\d+\\) \\w*QueryStage\n(?:Output[^\n]*\n)?Arguments: )\\d+", "$1x")
      .replaceAll(", Statistics\\([^)]*\\)", "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    require(args.length >= 3, "usage: ExplainDump <outDir> <tag> <gate> [gate ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val tag = args(1)
    val names = args.drop(2).toSeq
    for (name <- names) {
      val spark = graft.Bench.newSessionFor(cpus)
      val plans = new StringBuilder
      var n = 0
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit = synchronized {
          n += 1
          println(f"EXPLAIN $name action $n ($funcName): ${durationNs / 1e9}%.2f s")
          plans.append(s"== action $n ($funcName) ==\n")
          plans.append(normalized(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
          plans.append("\n")
        }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      df.count()
      // listener events are delivered async; give the bus time to drain
      // (no public drain API), then stop accepting more
      var stable = 0
      var last = -1
      while (stable < 3) {
        Thread.sleep(300)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      spark.listenerManager.unregister(listener)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$tag.txt"), plans.toString)
      println(s"EXPLAIN $name -> ${outDir.resolve(s"${name}_$tag.txt")} ($n actions)")
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }
}
