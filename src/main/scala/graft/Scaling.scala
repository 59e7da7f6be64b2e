package graft

import org.apache.spark.sql.SparkSession

/** Empirical scale-slope check (round-11 brief item 6): run the most
  * expensive bench queries at sf0.01 AND sf0.1 in ONE JVM session and
  * record the per-query time ratio. 10x the data should cost ~10x for
  * scans/aggs (linear), <=10x for banded/bucketed candidate generation
  * (LSH, CC's boundary-stitch), and ~1x for fixture-backed entries
  * whose fixture geometry is SF-independent (the real-layer family is
  * a fixed 60x60x28 volume at every sf — only label CONTENT derives
  * from the sf tables). A superlinear ratio (>~12x) flags a hidden
  * quadratic; results are interpreted in SCALING.md.
  *
  * Per SF: Fixtures.ensureAll + one untimed warm pass per query
  * (fixture build + JIT outside the timer, matching Bench), then 3
  * timed reps; median reported. SFs run low->high so sf0.1 numbers
  * can't benefit from sf0.01 leftovers (fixtures are marker-keyed by
  * sfDir and rebuild on switch, during the warm pass).
  */
object Scaling {
  private val DefaultQueries = Seq(
    // top-10 by r10 driver bench median
    "p8g_annotation_by_id_sharded", "st5_stream_static_join",
    "st3_time_chunked_ingest", "st4_stream_dedup", "j6b_leaves_stop_layer",
    "dedup_minhash_lsh", "dedup_cluster", "st2_stream_chunk_labels",
    "cc_components", "st1_window_counts",
    // next tier + canonical sf-scaled scans/aggs for slope contrast
    "st6_stream_session", "j4_remap_chunked", "tfidf_top_terms",
    "dedup_keep", "q1_pricing", "dedup_exact", "sim_topk_bruteforce",
    "a1_unique")

  def main(args: Array[String]): Unit = {
    // --all (r16 verdict item 3): the FULL registered suite, not just
    // the headline tier — entries whose slope is fine alone can go bad
    // composed (memo interplay, pinned-block pressure, AQE coalescing)
    val names =
      if (args.toSeq == Seq("--all")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else DefaultQueries
    // r16 (verdict item 3): SPARK_GRAFT_SHUFFLE_PARTITIONS scales the
    // shuffle width with the synthesized corpus — on a cluster the
    // partition count grows with the data, and the sf30 copurchase
    // attribution ("fixed 32 partitions bend the n·log n sort slope")
    // is demonstrated by re-running with partitions ∝ rows
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("graft-scaling").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // r12: SPARK_GRAFT_SCALING_SFS overrides the decade under test —
    // "/root/testdata/sf0.1,/tmp/graft_sf1" runs the sf0.1->sf1 decade
    // against the ScaleUp-synthesized corpus (timing only, no oracle)
    val sfs = sys.env.get("SPARK_GRAFT_SCALING_SFS")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
    val medians = scala.collection.mutable.Map[(String, String), Double]()
    val rows = scala.collection.mutable.Map[(String, String), Long]()
    // jobs/task_ms attribution per entry per sf (r17 verdict item 2):
    // composed-run outliers carry their own evidence IN the artifact —
    // task_ms flat while wall inflates proves session contention
    // (block-manager/CPU residue from hundreds of neighbors), task_ms
    // growing with wall proves a real data term. Each rep is an
    // obs.measure, as in Bench.
    val jobsMed = scala.collection.mutable.Map[(String, String), Long]()
    val taskMsMed = scala.collection.mutable.Map[(String, String), Long]()
    val loadMed = scala.collection.mutable.Map[(String, String), Double]()
    for (sfDir <- sfs) {
      graft.ops.Fixtures.ensureAll(spark, sfDir)
      // warm pass: fixture (re)builds at this sf + JIT, untimed
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[scaling] warm $n @ $sfDir FAILED: $e") }
      }
      for (n <- names) {
        // a failing query records NaN and the sweep continues — one
        // broken entry must not void the other ratios
        try {
          val recs = (1 to 3).map { _ =>
            val ld = obs.loadAvg()
            val m = obs.measure(spark)(SparkEntry.queries(n)(spark, sfDir).count())
            rows((n, sfDir)) = m.value
            (m.wallS, m.counts.jobs, m.counts.taskMs, ld)
          }
          val reps = recs.map(_._1).sorted
          def medL(v: Seq[Long]): Long = v.sorted.apply(v.size / 2)
          medians((n, sfDir)) = reps(1)
          jobsMed((n, sfDir)) = medL(recs.map(_._2))
          taskMsMed((n, sfDir)) = medL(recs.map(_._3))
          loadMed((n, sfDir)) = recs.map(_._4).sorted.apply(recs.size / 2)
          println(f"[scaling] $n @ ${sfDir.split('/').last}: " +
            f"median=${reps(1)}%.3f s reps=${reps.map(r => f"$r%.3f").mkString(",")} " +
            f"rows=${rows((n, sfDir))} jobs=${jobsMed((n, sfDir))} " +
            f"task_ms=${taskMsMed((n, sfDir))} load=${loadMed((n, sfDir))}%.2f")
        } catch { case e: Throwable =>
          medians((n, sfDir)) = Double.NaN
          System.err.println(s"[scaling] timed $n @ $sfDir FAILED: $e")
        }
      }
    }
    val sfA = sfs(0).split('/').last; val sfB = sfs(1).split('/').last
    println(s"query\t${sfA}_s\t${sfB}_s\tratio\trows_$sfA\trows_$sfB\t" +
      s"jobs_$sfA\tjobs_$sfB\ttask_ms_$sfA\ttask_ms_$sfB\tload_$sfA\tload_$sfB")
    names.foreach { n =>
      val a = medians.getOrElse((n, sfs(0)), Double.NaN)
      val b = medians.getOrElse((n, sfs(1)), Double.NaN)
      println(f"$n\t$a%.3f\t$b%.3f\t${b / a}%.2f\t" +
        f"${rows.getOrElse((n, sfs(0)), -1L)}\t${rows.getOrElse((n, sfs(1)), -1L)}\t" +
        f"${jobsMed.getOrElse((n, sfs(0)), -1L)}\t${jobsMed.getOrElse((n, sfs(1)), -1L)}\t" +
        f"${taskMsMed.getOrElse((n, sfs(0)), -1L)}\t${taskMsMed.getOrElse((n, sfs(1)), -1L)}\t" +
        f"${loadMed.getOrElse((n, sfs(0)), -1.0)}%.2f\t" +
        f"${loadMed.getOrElse((n, sfs(1)), -1.0)}%.2f")
    }
    spark.stop()
  }
}
