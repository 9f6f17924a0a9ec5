package graft

import org.apache.spark.sql.functions._

/** Driver-heap envelope probe for every `.collect()`-bounded model
  * family — not a spec. Measures the RETAINED driver-side size of each
  * fold's result at a real sf dir (meant for target/scaledata/sf10:
  * the contract bounds say these are corpus-size-INDEPENDENT; this
  * pins the measured high-water next to each `require` bound in
  * SCALE.md).
  *
  *   sbt "Test/runMain graft.HeapProbe [sfDir]"
  *
  * Method: force GC, snapshot used heap, build the driver-side
  * structure, force GC with the structure still referenced, snapshot
  * again — the delta is the retained footprint (plus GC noise; read
  * MBs, not KBs).
  */
object HeapProbe {

  private def used(): Long = {
    val rt = Runtime.getRuntime
    System.gc(); System.runFinalization(); System.gc()
    Thread.sleep(200)
    rt.totalMemory - rt.freeMemory
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scaledata/sf10")
    val spark = Sessions.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    docs.count(); embs.count() // materialize read paths before measuring

    def measure(name: String, bound: String)(build: => (Any, Long)): Unit = {
      val before = used()
      val (ref, entries) = build
      val after = used()
      println(f"== heap $name: entries=$entries%d " +
        f"retainedMB=${(after - before) / 1048576.0}%.1f bound=$bound")
      // keep ref reachable until after the measurement
      if (ref.hashCode() == Int.MinValue) println(ref)
    }

    measure("langid.modelMaps (K*B rows)", "K langs x 4096 buckets") {
      val model = graft.operators.LangId.fit(
        docs.select(col("lang"), col("text")), "lang", "text")
      val maps = graft.operators.LangId.modelMaps(model)
      (maps, maps.map(_._2.size.toLong).sum)
    }

    measure("surprisal model (<=B buckets)", "2^18 buckets") {
      val m = graft.operators.Surprisal.fit(docs, "text", 1 << 18, "sp")
      val rows = m.collect()
      (rows, rows.length.toLong)
    }

    measure("bpe.fit word frame (<=WordBound)", "2^20 words") {
      val merges = graft.operators.Bpe.fit(docs, "text", 64,
        minCount = 1L)
      (merges, merges.size.toLong)
    }

    measure("wordpiece.fit word frame (<=WordBound)", "2^20 words") {
      val (merges, _) = graft.operators.WordPiece.fit(docs, "text", 64,
        minCount = 1L)
      (merges, merges.size.toLong)
    }

    measure("unigram fit pieces (<=topMulti+alphabet)", "vocab-bounded") {
      val pieces = graft.operators.Unigram.fit(docs, "text", 4096)
      (pieces, pieces.size.toLong)
    }

    measure("pq codebooks (m*codes*sub doubles)", "8*16*(d/8)") {
      // pqTopK's 8 subspace codebooks, one fused fit — driver-side
      // state is the centroid arrays only
      val e = embs.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("__dv"))
        .withColumn("__l2",
          sqrt(aggregate(col("__dv"), lit(0.0), (a, x) => a + x * x)))
        .withColumn("__na", transform(col("__dv"),
          x => x / greatest(col("__l2"), lit(1e-30))))
      val d = 64
      val models = graft.operators.KMeansDet.fitVecs(e,
        (0 until 8).map(s =>
          (slice(col("__na"), s * (d / 8) + 1, d / 8), d / 8, 16)),
        Seq(col("vec_id")), 3)
      (models, models.map(_.centroids.map(_.length.toLong).sum).sum)
    }

    spark.stop()
  }
}
