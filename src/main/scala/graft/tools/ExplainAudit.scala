package graft.tools

import graft.Session

/** Prints formatted plans for representative queries so scan pruning,
  * filter pushdown, and join strategies can be audited per round.
  * Usage: scripts/run_main.sh graft.tools.ExplainAudit [sfDir [query ...]] */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val sf = args.headOption.getOrElse(Session.sfDir)
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q19_agg", "q02_filter", "q09_join_inner", "q14_join_semi",
        "e01_knn_exact", "d06_minhash_neardup")
    names.foreach { n =>
      println(s"\n======== $n ========")
      graft.SparkEntry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
