package graft

/** Institutionalized 100× oracle spot-check — the manual sf10 DuckDB
  * replays of earlier rounds as ONE runMain: replays a fixed
  * family-representative battery subset against a ScaleGen scale-up
  * dir, dumps results + oracle SQL in Verify's exact format, prints
  * per-query wall seconds (the BENCH_NOTES ratio rows), then — when
  * python3 + duckdb are present, as on the builder/driver host —
  * runs scripts/check.py for the hash compare and prints its verdict:
  * the SCALE_CORRECTNESS record committed to BENCH_NOTES.
  *
  * The subset covers every family whose tables ScaleGen scales
  * (documents / embeddings / events / supplier): exact + n-gram +
  * MinHash/SimHash dedup, embedding near-dup, ANN (brute force /
  * IVF / k-means), language ID, token counting, BPE encode, span +
  * exact-substring dedup, blocking fuzzy join, novelty (batch and
  * incremental), events-sequence ops, mixture apportionment, and the
  * MinHash fidelity audit. TPC-H-joined and engine-statement entries
  * are excluded by construction (ScaleGen does not scale their
  * tables); their scale evidence is the bench ratios and the engine
  * statement-surface rows in BENCH_NOTES.md.
  *
  * Usage: runMain graft.ScaleVerify [sfDir=/tmp/sf10] [outDir]
  *   SPARK_GRAFT_ONLY overrides the subset (comma-separated names).
  */
object ScaleVerify {
  /** One entry per family over the ScaleGen-scaled tables. */
  val defaultSubset: Seq[String] = Seq(
    "p01_dedup_exact", "p02_ngram_jaccard", "p03_minhash_lsh",
    "p04_simhash", "p05_embedding_neardup", "p06_ann_bruteforce",
    "p08_langid", "p10_token_count", "p15_ann_ivf", "p30_kmeans",
    "p42_bpe_encode", "p44_dup_spans", "p46_span_dedup",
    "p54_fuzzy_join", "p80_novelty", "p84_label_propagation",
    "p85_rolling_anomaly", "p88_transition_matrix",
    "p113_mixture_shares", "p117_minhash_fidelity",
    "p118_incremental_novelty", "p119_exact_substring",
    "p120_decontam_spans", "p121_exact_substring_removal",
    "p122_decontam_removal", "p123_bradley_terry",
    "p124_classifier_auc", "p125_rater_agreement",
    "p126_vocab_richness", "p127_kneser_ney", "p128_kcenter_coreset",
    "p129_gopher_gate", "p130_label_silhouette", "p131_moore_lewis",
    "p132_jl_distortion", "p133_token_stats", "p134_line_boilerplate",
    "p135_semantic_decontam")

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/sf10")
    val outDir = args.lift(1).getOrElse("/tmp/scale_vout")
    val spark = Sessions.local()
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultSubset)
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown battery entries: $missing")
    // a failed entry leaves an empty directory, so check.py can only
    // ever hash what THIS run produced and counts the failure as FAIL
    val failed = Verify.dump(spark, sfDir, outDir,
      names.map(n => n -> SparkEntry.queries(n)),
      (name, dt) => println(f"""{"scale_query":"$name","sec":$dt%.2f}"""))
    Verify.writeOracle(outDir, names.contains)
    spark.stop()
    if (failed.nonEmpty)
      System.err.println(
        s"[scaleverify] ${failed.length} FAILED: " + failed.mkString(","))
    // hash-compare via the local oracle replica when available; else
    // print the exact command so the record can be produced manually
    val checker = new java.io.File("scripts/check.py")
    if (checker.exists()) {
      try {
        val pb = new ProcessBuilder("python3", checker.getPath, sfDir, outDir)
        pb.inheritIO()
        val rc = pb.start().waitFor()
        if (rc != 0) sys.exit(rc)
      } catch { case e: Throwable =>
        println(s"[scaleverify] check.py not runnable here " +
          s"(${e.getMessage}); run: python3 scripts/check.py $sfDir $outDir")
      }
    } else println(s"run: python3 scripts/check.py $sfDir $outDir")
    // a Spark-phase failure is a FAILED round-close record even when
    // check.py could not run
    if (failed.nonEmpty) sys.exit(2)
  }
}
