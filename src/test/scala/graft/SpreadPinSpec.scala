package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}

/** Standing regression gate for the r17 single-task-stage class
  * (VERDICT r17 #3 — promote the TaskSkewProbe finding into the suite):
  * every test corpus table is ONE single-row-group parquet file, so an
  * operator whose first heavy stage is narrow would run it on ONE task
  * (`maxPartitionBytes` cannot split a row group). The fix is
  * [[graft.ext.Dedup.spread]] — a conditional repartition to the core
  * count (r19: a full-row xxhash64 HASH exchange — deterministic by
  * value, no sortBeforeRepartition local sort; round-robin before that),
  * provably a no-op at cluster scale (inputs with ≥ cores files skip
  * it).
  *
  * This spec pins the plan-level consequence on a one-file corpus
  * (sf0.001, 1 file < 4 cores), one of two ways:
  *  - operators whose spread survives to the executed plan must carry at
  *    least one spread exchange ([[SpreadExchange]]);
  *  - operators whose pipeline is checkpointed (`sharedStage` /
  *    `localCheckpoint` hide the exchange inside the RDD lineage, behind
  *    an [[RDDScanExec]]) must scan a checkpointed RDD with
  *    ≥ defaultParallelism partitions — exactly what the spread
  *    guarantees and what its deletion destroys (a 1-file corpus
  *    checkpoints as ONE partition otherwise).
  * Deleting a `spread` call (or a Spark upgrade changing the split
  * behaviour) turns the matching test red, deterministically and fast.
  *
  * `source_overlap` is deliberately NOT pinned: its gram pass has no
  * spread by measurement (r14 — at native WordGramHashes scan speed the
  * extra exchange inverted to a net cost; see Hygiene.gramPatternCounts).
  */
class SpreadPinSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = ProdSession.spark

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def maxRddScanPartitions(p: SparkPlan): Int =
    p.collect { case r: RDDScanExec => r.inputRDD.getNumPartitions }
      .foldLeft(0)(math.max)

  /** r17 flagged-and-fixed operators whose spread exchange survives to the
    * executed plan (BASELINE.md §single-task-stage sweep). */
  private val exchangeGates = Seq(
    "fuzzy_join",          // FastSS verify stage (the 4.0 s single-task find)
    "chrf_eval", "chrf_pp", // per-row gram-stat expressions
    "ngram_novelty",       // gram explosion
    "heavy_hitters_prod",  // MG sketch partial-aggregation map side
    "embed_tfidf",         // tokenize + hash featurizer
    "dedup_jaccard_pairs", // shingle + inverted-index build
    "ann_lsh",             // tables×bits cosine signature (data side)
    "self_bleu",           // per-pair BLEU scorer
    "sliding_distinct")    // per-day sketch build

  /** Operators whose spread is hidden behind a checkpoint: the pin is the
    * checkpointed RDD's partition count (== the spread's output). */
  private val checkpointGates = Seq(
    "bleu_corpus",         // eager pair-id checkpoint (Quality.bleuCorpus)
    "dedup_minhash_lsh",   // sharedStage'd (doc_id, sh, sig) table
    "dedup_simhash",       // sharedStage'd signature table
    "dedup_winnow_pairs")  // sharedStage'd fingerprint table (r18)

  for (name <- exchangeGates)
    test(s"$name: one-file corpus is spread before the heavy stage") {
      val p = plan(name)
      assert(SpreadExchange.count(p) >= 1,
        s"$name: expected the Dedup.spread exchange on a " +
          s"one-file corpus (the r17 single-task-stage fix) — was a spread " +
          s"call removed?\n$p")
    }

  for (name <- checkpointGates)
    test(s"$name: checkpointed pipeline is spread across the cores") {
      val par = spark.sparkContext.defaultParallelism
      val p = plan(name)
      val got = maxRddScanPartitions(p)
      assert(got >= par,
        s"$name: the checkpointed pipeline scans an RDD with $got " +
          s"partition(s) (< $par): on a one-file corpus that means the " +
          s"heavy stage above the checkpoint runs single-task — was the " +
          s"spread before the checkpoint removed?\n$p")
    }
}
