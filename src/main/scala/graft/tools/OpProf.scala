package graft.tools
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Optimization-round probe (r17): executes a query once (count, the
  * bench action), then walks the FINAL adaptive physical plan printing
  * each operator's runtime metrics (rows out, per-operator timing
  * accumulators) so the expensive leg is identified from data, not
  * guesswork. Usage: OpProf <query>... */
object OpProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.harness()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()

    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
      val m = p.metrics
      val interesting = m.toSeq
        .filter { case (k, v) => v.value > 0 &&
          (k.contains("time") || k.contains("Time") || k == "numOutputRows" ||
           k.contains("dataSize") || k.contains("spill") || k.contains("peak")) }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=${v.value}" }
      out.append("  " * depth).append(p.nodeName)
      if (interesting.nonEmpty) out.append("  [").append(interesting.mkString(" ")).append("]")
      out.append("\n")
      // recurse into reused/shuffle-stage subtrees too
      val kids = p.children ++ (p match {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case _ => Nil
      })
      kids.foreach(walk(_, depth + 1, out))
    }
    for (n <- args) {
      // run twice: first warms codegen/JIT, second is the measured profile
      graft.SparkEntry.queries(n)(spark, dir).count()
      graft.operators.Checkpoints.releaseAll(spark)
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // the plan Dataset.count() runs, kept in hand so its executed plan
      // (with metric values) is walked directly, with no listener
      val c = df.groupBy().count()
      val t0 = System.nanoTime()
      c.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val sb = new StringBuilder
      walk(finalPlan(c.queryExecution.executedPlan), 0, sb)
      println(f"OPPROF $n wall=$wall%.3f\n$sb")
      graft.operators.Checkpoints.releaseAll(spark)
    }
    spark.stop()
  }
}
