package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Feature selection for corpus classifiers — the "which tokens actually
  * discriminate the classes" pass that precedes training a quality /
  * source / language model on token features.
  *
  * Chi-square over the 2×2 presence table per (label, token):
  *
  * {{{
  *            label   ¬label
  *   token      a       b        a+b = tok_n (doc frequency)
  *   ¬token     c       d        a+c = lab_n, N = corpus size
  *
  *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
  * }}}
  *
  * Every quantity is an integer COUNT, and χ² is a ratio of integer
  * polynomials — so the score is computed as the exact micro-unit integer
  * `⌊10⁶·num/den⌋` in DECIMAL(38,0) arithmetic (all terms positive, so
  * truncating division IS floor): no float op anywhere, bit-identical in
  * any engine. Magnitude bound: 10⁶·N·(ad−bc)² ≤ 10⁶·N⁵ — safe through
  * N ≈ 10⁶ docs per fitted corpus; chunk or sample beyond that.
  *
  * Scale shape: one explode over distinct tokens per doc, two map-side-
  * combined count aggregations (per (label, token) and per token), the
  * per-label totals broadcast, and the per-label top-k ranked through
  * WindowGroupLimit. No corpus×corpus term, no driver loop.
  */
object FeatureSelection {

  private val D38 = "decimal(38,0)"

  /** Per-label top-k tokens by exact chi-square association.
    *
    * `docs` needs `doc_id`, `text` and the label column. Tokens below
    * `minDf` total document frequency are dropped (rare-token χ² is
    * noise), as are tokens present in EVERY document (degenerate table).
    * Output per label: `(label, rnk, token, a, tok_n, chi2_micro)` with
    * `a` the in-label document frequency and `chi2_micro = ⌊10⁶·χ²⌋`.
    */
  def chiSquareTopTokens(docs: DataFrame, labelCol: String, topK: Int,
      minDf: Long = 5): DataFrame = {
    val n = docs.count()
    val pres = docs.select(col("doc_id"), col(labelCol).as("label"),
      explode(array_distinct(graft.text.TextOps.tokens(col("text"))))
        .as("token"))
    // pinned: the (label, token) counts are the ONLY consumer of the
    // expensive tokenize+explode pass — tok_n derives from them (each doc
    // has exactly one label), and the n / per-label totals come from
    // cheap column-pruned scans of the raw docs (which also count
    // token-less documents the explode drops)
    val byLabelTok = pres.groupBy("label", "token")
      .agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val byTok = byLabelTok.groupBy("token").agg(sum(col("a")).as("tok_n"))
      .filter(col("tok_n") >= minDf && col("tok_n") < n)
    val byLabel = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("lab_n"))
    val joined = byLabelTok
      .join(byTok, "token")
      .join(broadcast(byLabel), "label")
    val aD = col("a").cast(D38)
    val b = (col("tok_n") - col("a")).cast(D38)
    val c = (col("lab_n") - col("a")).cast(D38)
    val dD = (lit(n) - col("tok_n") - col("lab_n") + col("a")).cast(D38)
    val diff = aD * dD - b * c
    val num = lit(n).cast(D38) * diff * diff * lit(1000000L).cast(D38)
    val den = col("tok_n").cast(D38) * (lit(n) - col("tok_n")).cast(D38) *
      col("lab_n").cast(D38) * (lit(n) - col("lab_n")).cast(D38)
    // exact floor division of positive decimals: strip the remainder,
    // then the decimal divide is exact (result ≤ 10⁶·N ≪ 10^18)
    val chi2 = ((num - pmod(num, den)) / den).cast("long")
    val w = Window.partitionBy("label")
      .orderBy(col("chi2_micro").desc, col("token"))
    joined
      .withColumn("chi2_micro", chi2)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("label"), col("rnk").cast("long").as("rnk"),
        col("token"), col("a"), col("tok_n"), col("chi2_micro"))
      .orderBy("label", "rnk")
  }
}
