package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextStats

/** Deterministic sequence packing for pretraining batch construction:
  * assign documents to fixed-capacity token bins so a trainer can
  * concatenate each bin into one context window with minimal padding
  * (the "example packing" step of GPT/T5-style pipelines — Raffel et al.
  * 2020 §3.1.3 pack multiple short examples per sequence).
  *
  * Greedy first-fit in doc-id order is a SEQUENTIAL recurrence (bin
  * boundaries depend on every prior document), so it cannot be a window
  * function — `floor(cumsum/capacity)` is NOT greedy packing: capacity 10
  * with sizes 6,6,6 packs greedily to bins 0,1,2 but cumulative-floor puts
  * the third doc in bin 1 with 12 tokens. The scalable shape is
  * `numStreams` INDEPENDENT packing streams (stream = doc_id % numStreams):
  * repartition by stream, sort within partitions by (stream, doc_id), and
  * run the greedy scan per stream in one `mapPartitions` pass — at web
  * scale the stream count rises with the cluster and each task packs its
  * streams sequentially with O(1) state. Bin ids are per-stream; (stream,
  * bin) is the global bin key. A document larger than `capacity` gets a
  * bin of its own (the trainer truncates it — packing must not).
  *
  * Tokens = [[TextStats.wsTokens]] (whitespace tokens), so the count is
  * exactly reproducible by the SQL oracle; swap in a real tokenizer's
  * length column at integration time.
  *
  * Null contract (a primitive-tuple encoder would otherwise silently
  * decode nulls to 0): a null doc id has no stream assignment and no
  * position in the doc-id order, so the row is dropped; null text counts
  * as the empty string (1 whitespace token — wsTokens' convention).
  */
object Packing {

  /** The ONE greedy overflow rule, shared by assignment and assembly (and
    * mirrored twice in SparkEntry's recursive-CTE oracles): a document
    * spills to the next bin iff it does not fit AND the bin is non-empty —
    * so an oversized document occupies a bin of its own, never truncated
    * here (truncation is the trainer's decision, not packing's). */
  @inline private[graft] def spills(filled: Long, t: Long, capacity: Long): Boolean =
    filled + t > capacity && filled > 0

  private def prepared(docs: DataFrame, idCol: String, textCol: String,
      numStreams: Int) = {
    // a fractional id would TRUNCATE
    // (distinct docs silently merging into one doc_id/stream) and a
    // non-numeric id becomes null after the filter, dying later in the
    // primitive tuple encoder with an opaque error — refuse up front
    graft.functions.Sampling.requireIntegral(docs, idCol, "packSequences")
    docs
      .where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        (col(idCol).cast("long") % numStreams).as("stream"),
        TextStats.wsTokens(coalesce(col(textCol), lit(""))).as("n_tokens"),
        coalesce(col(textCol), lit("")).as("text"))
  }

  /** (doc_id, stream, bin, n_tokens) — greedy per-stream packing of `docs`
    * in ascending doc-id order within each stream. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      capacity: Long = 2048L, numStreams: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    prepared(docs, idCol, textCol, numStreams)
      .select("doc_id", "stream", "n_tokens")
      .as[(Long, Long, Long)]
      .repartition(numStreams, col("stream"))
      .sortWithinPartitions("stream", "doc_id")
      .mapPartitions { it =>
        // several streams may land in one partition; the sort groups them,
        // so a stream change resets the scan state
        var curStream = Long.MinValue
        var filled = 0L
        var bin = 0L
        it.map { case (id, stream, t) =>
          if (stream != curStream) { curStream = stream; filled = 0L; bin = 0L }
          else if (spills(filled, t, capacity)) { bin += 1L; filled = 0L }
          filled += t
          (id, stream, bin, t)
        }
      }
      .toDF("doc_id", "stream", "bin", "n_tokens")
  }

  /** Trainer-ready bin assembly: the same greedy scan as [[packSequences]],
    * but emitting one row per COMPLETED bin — (stream, bin, n_docs,
    * tot_tokens, text) with the member texts joined by `sep` in doc-id
    * order. Because the scan is already repartitioned by stream and sorted,
    * bins are contiguous runs of the iterator: assembly happens inside the
    * same single `mapPartitions` pass — no second shuffle, no per-bin
    * collect_list. The builder's memory is one bin's TEXT: capacity bounds
    * the member token count, so bin bytes ≈ capacity × the corpus's
    * bytes-per-token (plus the full text of an oversized solo document) —
    * the same order as the context window a trainer materializes anyway,
    * and independent of corpus size; it is NOT a hard byte bound. */
  def packedBins(docs: DataFrame, idCol: String, textCol: String,
      capacity: Long = 2048L, numStreams: Int = 16,
      sep: String = " "): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    prepared(docs, idCol, textCol, numStreams)
      .as[(Long, Long, Long, String)]
      .repartition(numStreams, col("stream"))
      .sortWithinPartitions("stream", "doc_id")
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long, String)] {
          private var curStream = Long.MinValue
          private var bin = 0L
          private var nDocs = 0L
          private var tokens = 0L
          private val sb = new StringBuilder
          private var pending: Option[(Long, Long, Long, Long, String)] = None
          private def flush(): Option[(Long, Long, Long, Long, String)] =
            if (nDocs == 0) None
            else {
              val out = (curStream, bin, nDocs, tokens, sb.result())
              nDocs = 0; tokens = 0; sb.clear()
              Some(out)
            }
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (_, stream, t, text) = it.next()
              if (stream != curStream) {
                pending = flush(); curStream = stream; bin = 0L
              } else if (spills(tokens, t, capacity)) {
                pending = flush(); bin += 1L
              }
              if (nDocs > 0) sb.append(sep)
              sb.append(text); nDocs += 1; tokens += t
            }
            if (pending.isEmpty && !it.hasNext) pending = flush()
          }
          def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
          def next(): (Long, Long, Long, Long, String) = {
            if (!hasNext) throw new NoSuchElementException
            val out = pending.get; pending = None; out
          }
        }
      }
      .toDF("stream", "bin", "n_docs", "tot_tokens", "text")
  }
}
