package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column — the clustering primitive a
  * curation pipeline uses for domain discovery, diversity sampling, and
  * IVF-style index construction (the coarse quantizer in [[Similarity]]
  * is the hyperplane shortcut; this is the data-adaptive version).
  *
  * Determinism (so the whole iteration is oracle-checkable):
  *  - init is the k lowest-id vectors — reproducible everywhere, no RNG;
  *  - assignment distance d² = e·e − 2·e·c + c·c is per-row IEEE double
  *    math over the same sequential-fold dot product the similarity
  *    operators use (bit-equal to DuckDB's `list_dot_product`), with
  *    ties broken by cluster index;
  *  - centroid updates are exact element-wise decimal means on a fixed
  *    1e-12 grid (partial-aggregation order cannot perturb them; see the
  *    tie-rule note at the update below); an emptied cluster keeps its
  *    previous centroid.
  *
  * Scale: each iteration is one broadcast of the k×d centroid table into
  * a map-side assignment plus one (cluster, dim)-keyed decimal mean —
  * shuffle volume k·d rows, independent of corpus size. The corpus is
  * cached across iterations; nothing data-sized reaches the driver.
  */
object Clustering {

  /** Assignments after `iters` Lloyd iterations: (id, cluster, d2). */
  def kmeansAssign(corpus: DataFrame, id: Column, vec: Column,
                   k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val dv = corpus.select(id.as("id"), vec.cast("array<double>").as("e")).cache()

    // init: the k lowest-id vectors, cluster index in id order. The
    // single-partition window runs over k rows, not the corpus.
    var cents = dv.orderBy("id").limit(k)
      .select((row_number().over(Window.orderBy("id")) - 1).as("cl"),
        col("e").as("c"))

    def assign(cs: DataFrame, withVec: Boolean): DataFrame = {
      val d2 = Similarity.dot(col("e"), col("e")) -
        lit(2.0) * Similarity.dot(col("e"), col("c")) +
        Similarity.dot(col("c"), col("c"))
      // argmin via min_by over the UNIQUE order key (d2, cl) — cl is
      // distinct within an id, so the minimum is unique and min_by is
      // deterministic, with exactly the window form's (d2 asc, cl asc)
      // tie rule. A partial-aggregable argmin (r20 optimization, guide
      // §2.3 "aggregate before you shuffle"): the old row_number window
      // shuffled AND sorted corpus×k rows per iteration; this collapses
      // to one row per id map-side and never sorts.
      // The min_by buffer carries only the SMALL (cl, d2) struct (r21,
      // ADVICE r20): carrying the embedding inside it re-copied the full
      // vector on every better candidate — a measured 1.3× local median
      // regression. The iterations' mean step gets `e` back through
      // first(), which is exact here because every row of an id group
      // holds the identical vector (e is a function of id); the final
      // assignment never needs e at all.
      val aggs = min_by(struct(col("cl"), col("d2")),
        struct(col("d2"), col("cl"))).as("m") +:
        (if (withVec) Seq(first(col("e")).as("e")) else Nil)
      val out = dv.crossJoin(broadcast(cs))
        .select(col("id"), col("e"), col("cl"), d2.as("d2"))
        .groupBy(col("id"))
        .agg(aggs.head, aggs.tail: _*)
      val cols = Seq(col("id")) ++ (if (withVec) Seq(col("e")) else Nil) ++
        Seq(col("m.cl").as("cl"), col("m.d2").as("d2"))
      out.select(cols: _*)
    }

    for (_ <- 0 until iters) {
      val assigned = assign(cents, withVec = true)
      // Exact mean at a fixed 1e-12 grid: round(x·1e12) is an
      // integer-valued double (both engines round halves away from zero —
      // identical), summed associatively as EXACT integers. A direct
      // double→DECIMAL(28,12) cast is NOT portable: a component that is
      // dyadic with exactly 13 fractional digits (e.g. the real corpus
      // value 0.1983642578125) is a half-way tie at scale 12, and Spark
      // (HALF_UP) and DuckDB (half-even) round it apart.
      //
      // Exact grid-integer sum ([[GridSum.exactSum]], long arithmetic per
      // row, no per-row BigDecimal): ANSI-loud only past 2⁹⁴ per group.
      val means = assigned
        .select(col("cl"), posexplode(col("e")))
        .select(col("cl"), col("pos"),
          round(col("col") * lit(1.0e12)).cast("long").as("v"))
        .groupBy("cl", "pos")
        .agg(((GridSum.exactSum(col("v"), 0).cast("double") /
          count(lit(1))) / lit(1.0e12)).as("mn"))
      cents = cents
        .select(col("cl"), posexplode(col("c")))
        .select(col("cl"), col("pos"), col("col").as("old"))
        .join(means, Seq("cl", "pos"), "left")
        .withColumn("v", coalesce(col("mn"), col("old")))
        .groupBy("cl")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("c"))
    }
    // Seal the final assignment and release the corpus cache: `dv` was a
    // live CacheManager entry the returned lazy plan used to pin — one
    // leaked corpus-sized cache per invocation, silently reused by later
    // identical-plan calls (the r15 cache-hygiene audit). The result is
    // corpus-sized too, so on a real cluster the checkpoint costs the
    // same order of memory the cache already did — and it is released
    // when the caller drops the handle, which the cache entry never was.
    CacheScope.sealResult(
      assign(cents, withVec = false)
        .select(col("id"), col("cl").as("cluster"), col("d2")), dv)
  }

  /** Cluster sizes + exact-decimal inertia after `iters` iterations. */
  def kmeansSummary(corpus: DataFrame, id: Column, vec: Column,
                    k: Int, iters: Int): DataFrame =
    kmeansAssign(corpus, id, vec, k, iters)
      .select(col("cluster"), GridSum.grid12(col("d2")).as("__g"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        // bit-identical to the decimal(28,12) sum, no per-row Decimal
        // aggregation buffer
        GridSum.exactSum(col("__g"), 12).cast("double").as("inertia"))
}
