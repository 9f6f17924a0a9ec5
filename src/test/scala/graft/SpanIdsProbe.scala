package graft

import org.apache.spark.sql.functions._

/** Scratch stage-cost probe for t_span_corrupt_ids — not a spec. */
object SpanIdsProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val d = "/root/testdata/sf0.1"
    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val docs = graft.queries.Gate.t(spark, d, "documents")
    val sc0 = graft.operators.SpanCorrupt.corrupt(
      docs, "doc_id", "text", rateK = 6)
      .select(col("doc_id"), col("inp"), col("tgt"))
    val sc = time("corrupt+checkpoint") { sc0.localCheckpoint(true) }
    val sp = graft.operators.SpanCorrupt.extraIdSpecials(64)
    val merges = time("byte-level fit(inp, 6, sp)") {
      graft.operators.Bpe.fit(sc, "inp", 6, minCount = 1L,
        byteLevel = true, specials = sp)
    }
    val base = 256 + merges.size
    val inpIds = graft.operators.Bpe.encodeIdsCol(col("inp"), merges, sp)
    val tgtIds = graft.operators.Bpe.encodeIdsCol(col("tgt"), merges, sp)
    time("final select") {
      sc.select(col("doc_id"),
        size(filter(inpIds, i => i >= lit(base))).as("a"),
        size(filter(tgtIds, i => i >= lit(base))).as("b"),
        graft.operators.Bpe.decodeIdsCol(inpIds, merges, sp).as("c"),
        graft.operators.Bpe.decodeIdsCol(tgtIds, merges, sp).as("e"))
        .count()
    }
    spark.stop()
  }
}
