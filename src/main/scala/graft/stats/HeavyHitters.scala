package graft.stats

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Exact frequent-item ("heavy hitter") detection at corpus scale: every
  * token whose global count reaches `minFrac` of the total token count,
  * with its EXACT count — without ever shuffling the long tail.
  *
  * Reference analogue: the vocabulary/frequency passes the reference runs
  * over mention and section text (reference:src/kg_ae/kg/build.py token
  * statistics); at web scale the same need appears as frequent-n-gram /
  * frequent-domain mining over a 100 TB corpus, where a plain
  * `GROUP BY token` must shuffle EVERY occurrence of a (Zipf-tailed)
  * vocabulary that is mostly singletons.
  *
  * Two-scan shape:
  *   1. one NARROW scan runs a Misra-Gries summary (capacity k) inside
  *      each partition via `mapPartitions` — genuine per-partition
  *      imperative state, the documented last-resort vehicle — emitting
  *      ≤ k candidate tokens per partition plus that partition's token
  *      count. Nothing tail-sized crosses the wire: the stage-1 output is
  *      ≤ (k+1)·P rows regardless of corpus size.
  *   2. the candidate set (deduped, BROADCAST — ≤ k·P rows by
  *      construction) semi-filters a second scan, and only matching rows
  *      enter the exact recount groupBy. The Zipf tail — the overwhelming
  *      majority of a web corpus — is dropped at the scan, codegen-side,
  *      before any exchange.
  *
  * Exactness (why the output equals the naive GROUP BY .. HAVING): with
  * per-partition capacity k = ceil(1/minFrac)+1, Misra-Gries guarantees
  * any item with local count > n_p/(k+1) is in partition p's summary;
  * k+1 > 1/minFrac makes that bound strictly below minFrac·n_p. By
  * pigeonhole, a token with global count ≥ minFrac·N has ≥ minFrac·n_p
  * occurrences in at least one partition, so it is SOME partition's
  * candidate. The recount is exact, so false candidates are filtered by
  * the final threshold and true hitters carry true counts — the result is
  * partition-layout-invariant even though the candidate set is not.
  *
  * The threshold ceil(minFrac·N) joins in as a 1-row aggregate
  * cross-join (the Disproportionality/Linker.idf pattern): building the
  * plan launches no job, and N comes from the stage-1 markers rather than
  * a third scan of the corpus.
  */
object HeavyHitters {

  /** Tokens of `tokens` (one string per row) whose global count is at
    * least ceil(minFrac * total), with exact counts.
    * Output: (token, n_occurrences), where n_occurrences is exact. */
  def frequentTokens(tokens: Dataset[String], minFrac: Double): DataFrame = {
    require(minFrac > 0.0 && minFrac < 1.0,
      s"minFrac must be in (0,1), got $minFrac")
    val spark = tokens.sparkSession
    import spark.implicits._
    val k = math.ceil(1.0 / minFrac).toInt + 1

    // stage 1: per-partition Misra-Gries summary + partition token count.
    // marker rows (is_marker=true) carry n_p; candidate rows carry tokens.
    // Decrement-all is O(k) per trigger but amortized O(1): every
    // decrement is paid for by a prior increment.
    val summary = tokens.mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long](k * 2)
      var n = 0L
      it.foreach { tok =>
        n += 1
        val c: Long = counts.getOrDefault(tok, 0L)
        if (c > 0L) counts.put(tok, c + 1L)
        else if (counts.size < k) counts.put(tok, 1L)
        else {
          val entries = counts.entrySet().iterator()
          while (entries.hasNext) {
            val e = entries.next()
            if (e.getValue == 1L) entries.remove()
            else e.setValue(e.getValue - 1L)
          }
        }
      }
      // marker emitted even for empty partitions so sum(n_p) is never null
      Iterator.single(("", n, true)) ++
        counts.keySet().iterator().asScala.map(t => (t, 0L, false))
    }.toDF("token", "n", "is_marker")
      // ≤ (k+1)·P rows; materialize once — consumed by BOTH the total-count
      // aggregate and the candidate broadcast below (without the cut the
      // full MG scan would run twice, once per consumer)
      .transform(Cut.large)

    val totals = summary.where(col("is_marker"))
      .agg(sum(col("n")).as("n_total"))
    val candidates = summary.where(!col("is_marker"))
      .select(col("token")).distinct()

    // stage 2: exact recount of candidate rows only; the tail dies at the
    // scan via the broadcast hash semi-filter
    tokens.toDF("token")
      .join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(totals)
      .where(col("n_occurrences") >= ceil(col("n_total") * lit(minFrac)))
      .select(col("token"), col("n_occurrences"))
  }
}
