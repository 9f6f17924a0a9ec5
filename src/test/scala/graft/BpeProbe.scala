package graft

import org.apache.spark.sql.functions._

/** Scratch probe for trainer cost — not a spec.
  * args: nMerges which(fit|local|localbytes|wplocal|wpfit|ugtarget)
  * [parquetDir] — `fit`/`wpfit` run the round-by-round spec trainers,
  * `local`/`localbytes`/`wplocal` the production driver-local ones. */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    import spark.implicits._
    val n = args.headOption.map(_.toInt).getOrElse(12)
    val which = if (args.length > 1) args(1) else "fit"
    val docs =
      if (args.length > 2 && args(2).startsWith("synthhex:")) {
        // distributed generation, ~millions of distinct 8-hex words
        val nDocs = args(2).stripPrefix("synthhex:").toLong
        spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 10).map(p =>
            substring(md5(concat(col("id"), lit(s":$p"))), 1, 8)): _*)
            .as("text"))
      } else if (args.length > 2 && args(2).startsWith("synthetic:")) {
        val nDocs = args(2).stripPrefix("synthetic:").toInt
        val rnd = new scala.util.Random(7)
        val alpha = "abcdefghijklmnopqrstuvwxyz"
        val pool = Array.fill(50000)(
          Seq.fill(3 + rnd.nextInt(10))(
            alpha(rnd.nextInt(26))).mkString)
        Seq.tabulate(nDocs)(i =>
          (i.toLong, Seq.fill(30)(
            pool(rnd.nextInt(pool.length))).mkString(" ")))
          .toDF("doc_id", "text").repartition(16)
      } else if (args.length > 2)
        spark.read.parquet(args(2) + "/documents.parquet")
      else Seq.tabulate(25)(i =>
        (i.toLong, s"low lower lowest aaaa baab wide wider widest " +
          s"the then there row$i")).toDF("doc_id", "text")
    val instrument = new Instrument(spark)
    val (m, span) = instrument.span(which) {
      if (which == "fit")
        SpecTrainers.bpe(graft.operators.Bpe.wordFrame(docs, "text"), n, 1L)
      else if (which == "local")
        graft.operators.Bpe.fit(docs, "text", n, 1L)
      else if (which == "localbytes")
        graft.operators.Bpe.fit(docs, "text", n, 1L, byteLevel = true)
      else if (which == "wplocal")
        graft.operators.WordPiece.fit(docs, "text", n, minCount = 1L)._1
      else if (which == "wpfit")
        SpecTrainers.wordPiece(docs, "text", n, minCount = 1L)
      else if (which == "ugtarget") {
        // production-shape pin: fit to (n − 256) pieces, then reserve
        // the 256-byte fallback pieces on top → exactly n, the
        // SentencePiece byte_fallback layout
        val fitted = graft.operators.Unigram.fitTarget(docs, "text",
          n - 256, maxPieceLen = 4, seedMult = 2, prunePermille = 500)
        val full = graft.operators.Unigram.withByteFallback(fitted)
        val rt = Runtime.getRuntime
        System.gc()
        println(s"== ugtarget fitted=${fitted.size} withFallback=" +
          s"${full.size} driverHeapMB=" +
          s"${(rt.totalMemory - rt.freeMemory) / 1048576}")
        full.map(p => graft.operators.Bpe.Merge(0, p.piece, "")) // size probe
      }
      else sys.error(s"unknown trainer '$which'")
    }
    instrument.close()
    println(s"== $which n=$n merges=${m.size} secs=${span.wallMs / 1e3} " +
      s"shufMB=${span("shuffle_write_bytes") / 1048576.0}")
    spark.stop()
  }
}
