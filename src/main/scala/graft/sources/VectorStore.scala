package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The PQ index as a PERSISTED artifact — the build → store → probe
  * story for the ANN family, completing the pattern every other sketch
  * family already has (MinHash q89/q90, SimHash q23/q94, doc postings
  * q98, positional lists q95/q105 via IndexStore).
  *
  * Two relations are stored: the subspace CODEBOOKS
  * `(m, cent_id, cv ARRAY<DOUBLE>)` — numSubs·ksub rows, parameters not
  * corpus — and the CODES `(vec_id, m, code)` — numSubs small ints per
  * vector, the 16–32× compression that is the point of PQ at 100 TB:
  * the probe reads the codes + codebooks, NEVER the original
  * embeddings (queries keep their own full-precision vectors). Codes
  * are written bucketed-by-nothing but sorted on vec_id so a future
  * incremental append (new vec_ids above a cap, the q105 pattern)
  * concatenates cleanly. */
object VectorStore {

  /** Write the LSH-BUCKETED BINARY vector artifact the
    * `graft-vectors` DSv2 source serves (round-7 verdict #8): one
    * `bucket=<b>/part-<b>.bin` file per LSH cell, rows `(vec_id LONG,
    * dim INT, dim DOUBLEs)` big-endian. Distributed write: vectors
    * repartition ON the bucket (each cell lands wholly in one task),
    * sort within the partition so a task streams each of its cells
    * into one file sequentially, and files go through the Hadoop
    * FileSystem API (object stores work unchanged). The readiness
    * marker publishes LAST — a concurrent reader never plans a
    * half-written artifact. At production scale a cell spans several
    * files (shard the repartition key with a salt; the source already
    * plans per-FILE splits, so nothing else changes). */
  def saveLshBinary(embeddings: DataFrame, path: String): Unit = {
    val bucketed = Similarity.lshBucketed(embeddings)
      .select(col("bucket"), col("vec_id"), col("v"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      embeddings.sparkSession.sparkContext.hadoopConfiguration)
    bucketed.repartition(col("bucket")).sortWithinPartitions("bucket", "vec_id")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = StoreFs.of(new org.apache.hadoop.fs.Path(path), conf.value)
        // TASK-COMMIT protocol: each bucket streams to an
        // attempt-unique TEMP name and renames into place only after a
        // clean close — a zombie first attempt or a speculative
        // duplicate can then never interleave bytes into a published
        // file. The content is a deterministic function of the bucket,
        // so whichever attempt wins the rename race publishes the same
        // bytes; a losing rename just deletes its temp.
        val attempt = java.util.UUID.randomUUID().toString
        var bucket = Long.MinValue
        var out: java.io.DataOutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        def commit(): Unit = if (out != null) {
          out.close(); out = null
          val dst = new org.apache.hadoop.fs.Path(
            s"$path/bucket=$bucket/part-$bucket.bin")
          if (fs.exists(dst) || !fs.rename(tmp, dst)) fs.delete(tmp, false)
        }
        def roll(b: Long): Unit = {
          commit()
          bucket = b
          tmp = new org.apache.hadoop.fs.Path(
            s"$path/bucket=$b/.part-$b.bin.$attempt.tmp")
          out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            fs.create(tmp, true), 1 << 16))
        }
        try {
          rows.foreach { r =>
            val b = r.getLong(0)
            if (out == null || b != bucket) roll(b)
            out.writeLong(r.getLong(1))
            val v = r.getSeq[Double](2)
            out.writeInt(v.length)
            v.foreach(out.writeDouble)
          }
          commit()
        } finally if (out != null) { out.close(); fs.delete(tmp, false) }
      }
    val fs = StoreFs.of(new org.apache.hadoop.fs.Path(path),
      embeddings.sparkSession.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(path,
      VectorBinSource.ReadyMarker), true).close()
  }

  /** Materialize-once LSH vector artifact for a testdata sf dir — the
    * `IndexStore.textIndexFor` convention: tmpdir location keyed by
    * the embeddings file state and graft's code stamp
    * ([[Sidecar.storeArtifactDir]]), built only when the readiness marker
    * is absent. */
  def lshStoreFor(spark: SparkSession, sfDir: String): String =
    synchronized {
      val src = s"$sfDir/embeddings.parquet"
      val out = Sidecar.storeArtifactDir("vecstore", sfDir, src)
      val ready = java.nio.file.Paths.get(out, VectorBinSource.ReadyMarker)
      if (!java.nio.file.Files.exists(ready))
        saveLshBinary(spark.read.parquet(src), out)
      out
    }

  /** Train PQ on the corpus and persist codebooks + codes. */
  def savePq(embeddings: DataFrame, path: String): Unit = {
    val u = Similarity.unitVecsOf(embeddings)
    val (cents, codes, subs) = Similarity.pqTrain(u,
      Similarity.PqNumSubs, Similarity.PqSubDim, Similarity.PqKsub, iters = 2)
    try {
      cents.write.mode("overwrite").parquet(s"$path/codebook")
      codes.sort("vec_id", "m").write.mode("overwrite").parquet(s"$path/codes")
    } finally { subs.unpersist(); cents.unpersist() }
  }

  def loadPq(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/codebook"), spark.read.parquet(s"$path/codes"))

  /** BUCKETED persistence: codes as a catalog table bucketed on
    * `vec_id` — the key of `pqDecode`'s reconstruction aggregation,
    * which is the corpus-sized stage of EVERY stored probe. With the
    * bucket layout, reconstruction runs with ZERO exchanges (the
    * codebook joins broadcast; the groupBy(vec_id) is satisfied by the
    * scan partitioning) — at 100 TB each probe reads its share of the
    * codes and never reshuffles them. The codebook stays a plain
    * table: it is parameter-sized and always broadcasts. */
  def savePqBucketed(embeddings: DataFrame, name: String,
      nBuckets: Int = 8): Unit = {
    val u = Similarity.unitVecsOf(embeddings)
    val (cents, codes, subs) = Similarity.pqTrain(u,
      Similarity.PqNumSubs, Similarity.PqSubDim, Similarity.PqKsub, iters = 2)
    try {
      cents.write.mode("overwrite").saveAsTable(s"${name}_codebook")
      codes.write.mode("overwrite")
        .bucketBy(nBuckets, "vec_id").sortBy("vec_id", "m")
        .saveAsTable(s"${name}_codes")
    } finally { subs.unpersist(); cents.unpersist() }
  }

  def loadPqBucketed(spark: SparkSession, name: String): (DataFrame, DataFrame) =
    (spark.table(s"${name}_codebook"), spark.table(s"${name}_codes"))

  /** INCREMENTAL ingest: encode a new batch of vectors against the
    * STORED codebook — no retraining, the corpus is never re-encoded
    * (the q90/q94/q105 incremental pattern for the PQ family). Given a
    * codebook, encoding is pointwise per vector, so union(stored codes,
    * encodePq(new)) is exactly what training over the combined corpus
    * with this codebook would emit; append the result to `codes` and
    * the stored index serves old and new vectors alike. */
  def encodePq(codebook: DataFrame, newEmbeddings: DataFrame): DataFrame =
    Similarity.pqEncode(Similarity.unitVecsOf(newEmbeddings), codebook)

  /** Batch incremental near-dup against the stored PQ index: every
    * new vector scored (ADC) against every stored reconstruction, pairs
    * at or above `threshold` emitted — the semantic-dedup gate a daily
    * ingest runs before admitting new embeddings, and the reference
    * semantics for the streaming twin
    * (`EventStreams.streamingPqNearDup`, spec-pinned equal). Flat-scan
    * class like q106 (cost ∝ stored corpus per new vector); a
    * production pipeline bounds it further with the q107 coarse cells.
    */
  def pqNearDupStored(codebook: DataFrame, codes: DataFrame,
      newEmbeddings: DataFrame, threshold: Double): DataFrame = {
    val q = Similarity.unitVecsOf(newEmbeddings)
      .select(col("vec_id").as("vec_new"), col("u").as("qu"))
    Similarity.adcPairs(q, Similarity.pqDecode(codes, codebook), threshold)
  }

  /** ADC top-k served FROM the stored index: reconstruct candidates
    * from codes × codebooks (the corpus embeddings are not touched —
    * the point of persisting the index), score against the caller's
    * full-precision query vectors. Results are bit-identical to
    * `Similarity.pqAnn` on the same corpus (PqSpec pins it): the
    * reconstruction dot is the same left fold, and the stored
    * codebooks/codes ARE the in-memory ones. */
  def adcSearchStored(codebook: DataFrame, codes: DataFrame,
      queryEmbeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = Similarity.unitVecsOf(queryEmbeddings)
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("vec_a"), col("u").as("qu"))
    Similarity.adcTopK(q, Similarity.pqDecode(codes, codebook), k)
  }
}
