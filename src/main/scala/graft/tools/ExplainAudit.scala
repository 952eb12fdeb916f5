package graft.tools

import graft.{GraftSession, SparkEntry}

/** Prints the formatted physical plan of selected queries — the
  * shuffle/broadcast/codegen audit loop (run ad hoc, not by the driver).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the bench's session, so the audited plans are the timed plans
    val spark = GraftSession("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q10_join_stream_table", "q26_embedding_pairs", "q42_rollup_cascade",
      "q151_winnow", "q156_pack_pairs", "q158_asof_nearest",
      // round 11: group/permute NFA elements (one shuffle + sort into
      // MatchRecognize), the PREV lag precompute sharing that shuffle,
      // and the unmatched-rows anti join
      "q167_mr_group", "q168_mr_permute3", "q172_mr_prev_define",
      "q170_mr_unmatched_rows",
      // round 18: the recursive composite-PERMUTE routes (k!-expansion
      // q208, bitmask-hub q217) — both must stay the one-exchange
      // `Exchange → Sort → MatchRecognize` shape
      "q208_mr_permute5", "q217_mr_permute6")
    names.foreach { n =>
      println(s"\n===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
