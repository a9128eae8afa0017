package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-snapshot) deduplication: dedup a NEW ingest batch
  * against an already-curated corpus without re-processing the corpus —
  * the "drop what the previous crawls already contain" step every
  * recurring-crawl pipeline runs. The corpus side is represented by a
  * small reusable index artifact (exact: distinct text hashes; near-dup:
  * MinHash signatures), persisted between runs, so each increment costs
  * O(batch) + one join against the index — never a corpus-vs-corpus
  * pass.
  *
  * The batch-mode analog of the reference's cache-and-append ingest
  * (dissertation-iceberg/src/data_pipeline.py:96-118: skip work whose
  * output artifact already exists).
  */
object IncrementalDedup {

  /** Exact-dedup corpus index: the distinct text-md5 set. The artifact a
    * pipeline writes next to each corpus snapshot (one narrow column;
    * at 10^10 docs ~ a few hundred GB parquet — joinable, never
    * collected). */
  def exactIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_md5")).distinct()

  /** New-batch exact dedup against a corpus index: drops batch docs whose
    * text the corpus already contains (left_anti on the hash), then
    * dedups WITHIN the batch (smallest id wins) — both are needed, in
    * this order, or two copies that are new-to-corpus both survive.
    * Shuffles: the anti-join on md5 + exact()'s winner window. */
  def dedupAgainst(newDocs: DataFrame, index: DataFrame,
                   textCol: String, idCol: String): DataFrame = {
    val unseen = newDocs.join(index,
      md5(newDocs(textCol)) === index("text_md5"), "left_anti")
    Dedup.exact(unseen, textCol, idCol)
  }

  /** [[dedupAgainst]] with a Bloom prefilter on the batch side — the
    * shape that scales past "the index fits an exact broadcast": rows
    * whose text hash misses the filter are DEFINITELY new (Bloom filters
    * have no false negatives) and skip the anti-join shuffle entirely as
    * a row-local filter; only bloom-positive rows — the true duplicates
    * plus the configured false-positive rate — pay the exact verify
    * join. For a mostly-new batch against a 10-bits/key filter that
    * shrinks the join input ~100x. Output is bit-identical to
    * [[dedupAgainst]] by construction: the filter routes rows, the exact
    * join still decides every candidate.
    *
    * `numBits` sizes the filter for the INDEX's key count (10 bits/key
    * with the default 7 hashes gives ~1% false positives); build cost is
    * one narrow pass over the index. */
  def dedupAgainstBloom(newDocs: DataFrame, index: DataFrame,
                        textCol: String, idCol: String, numBits: Int,
                        numHashes: Int = 7): DataFrame = {
    val words = Bloom.build(index, col("text_md5"), numBits, numHashes)
    val tagged = newDocs.withColumn("__bloom_hit",
      Bloom.mightContain(md5(col(textCol)), words, numHashes))
    val misses = tagged.filter(!col("__bloom_hit")).drop("__bloom_hit")
    val candidates = tagged.filter(col("__bloom_hit")).drop("__bloom_hit")
    val verified = candidates.join(index,
      md5(candidates(textCol)) === index("text_md5"), "left_anti")
    Dedup.exact(misses.unionByName(verified), textCol, idCol)
  }

  /** Near-dup candidates of a NEW batch against a CORPUS signature index:
    * cross-frame LSH band join on the band's slot values (the same keys
    * as [[Dedup.minHashLshPairsFromSigs]] — an index built by one run is
    * probe-compatible with every later run), agreement-rate estimate,
    * threshold. All-null signatures (empty docs) on either side never
    * pair. Returns (new_id, corpus_id, est_jaccard). The only
    * shuffle is the band-bucket join; candidates are bounded by bucket
    * co-occupancy exactly as in the self-join case. */
  def nearDupAgainst(newSigs: DataFrame, corpusSigs: DataFrame,
                     bands: Int, rowsPerBand: Int,
                     minEstJaccard: Double = 0.0): DataFrame = {
    val l = Dedup.bandedSigs(newSigs, bands, rowsPerBand)
      .select(col("band"), col("bucket"),
        col("id").as("new_id"), col("sig").as("sig_a"))
    val r = Dedup.bandedSigs(corpusSigs, bands, rowsPerBand)
      .select(col("band"), col("bucket"),
        col("id").as("corpus_id"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id"),
        Dedup.agreement(col("sig_a"), col("sig_b"), bands * rowsPerBand)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** Drop the batch rows flagged by [[nearDupAgainst]] (or any
    * (new_id, ...) flag frame): left_anti on the id. */
  def filterFlagged(newDocs: DataFrame, idCol: String,
                    flagged: DataFrame): DataFrame =
    newDocs.join(flagged.select(col("new_id")).distinct(),
      newDocs(idCol) === col("new_id"), "left_anti")
}
