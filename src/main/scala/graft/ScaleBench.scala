package graft

/** Dev tool: measured scaling evidence — run a gate list at two scale
  * factors (default the 10 most expensive gates at sf0.01 vs sf0.1, a
  * 10× data ratio), interleaved reps, and print a per-gate median table
  * with the scaling ratio. Feeds SCALE.md §"Measured scaling".
  *
  *   sbt "runMain graft.ScaleBench [names] [reps] [dirA,dirB]"
  */
object ScaleBench {

  val DefaultNames: Seq[String] = Seq(
    "s_ann_ivf", "st_stream_join", "d_embed_cosine_kmeans", "a7_kmeans",
    "a6_buckets", "d_ngram_jaccard", "d_minhash_lsh",
    "st_stateful_sessions", "a2_group_maxby", "d_simhash",
    "t_curation_e2e")

  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty && args(0).nonEmpty) args(0).split(",").toSeq
      else DefaultNames
    val reps = if (args.length > 1) args(1).toInt else 3
    val dirs =
      if (args.length > 2) args(2).split(",").toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    // optional scan-split override (bytes), applied to BOTH dirs: the
    // sf1 fixture is one small-row-group file per table, and at the
    // default 128 MB maxPartitionBytes the whole file is ONE scan task
    // — the measurement would time a 1-core ingest pathology instead
    // of cluster-shaped scan parallelism (which grows with data)
    val maxPart = if (args.length > 3) Some(args(3).toLong) else None
    val spark = Sessions.local()
    maxPart.foreach(b =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", b.toString))
    // warmup pass (janino/codegen, file listing) at the small sf
    names.foreach { n =>
      try Scope.open(_ => SparkEntry.queries(n)(spark, dirs.head).count())
      catch { case e: Throwable =>
        System.err.println(s"[scale] warmup $n failed: ${e.getMessage}")
      }
    }
    val times = scala.collection.mutable
      .Map[(String, String), List[Double]]().withDefaultValue(Nil)
    for (_ <- 1 to reps; n <- names; d <- dirs) Scope.open { _ =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(n)(spark, d).count()
      catch { case e: Throwable =>
        System.err.println(s"[scale] $n @ $d failed: ${e.getMessage}")
      }
      times((n, d)) ::= (System.nanoTime() - t0) / 1e9
    }
    def med(xs: List[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    def label(d: String) = d.split("/").filter(_.nonEmpty).last
    println(s"| gate | ${label(dirs(0))} (s) | ${label(dirs(1))} (s) " +
      "| ratio (10x data) |")
    println("|---|---|---|---|")
    names.foreach { n =>
      val a = med(times((n, dirs(0))))
      val b = med(times((n, dirs(1))))
      println(f"| $n | $a%.2f | $b%.2f | ${b / a}%.1fx |")
    }
    spark.stop()
  }
}
