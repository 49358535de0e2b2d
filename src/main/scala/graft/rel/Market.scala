package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market/behavior analytics: co-occurrence association rules and RFM
  * segmentation — the retail-analysis classics on the relational
  * tables (reference adjacency: the smart_group / bin_counting
  * aggregation family).
  */
object Market {

  /** Pairwise association statistics over baskets: for items A < B
    * co-occurring in a basket, the pair count, support, and lift
    * `n·c(AB)/(c(A)·c(B))`. The self-join is keyed by basket and the
    * per-basket item list is assumed SMALL (retail baskets, suppliers
    * per order — tens, not thousands); `maxBasketSize` rejects
    * degenerate baskets loudly rather than letting one mega-basket
    * go quadratic. Basket total rides as a driver literal (the
    * fitted-scalar pattern). Output:
    * (item_a, item_b, n_pair, support, lift), n_pair >= minPairs. */
  def pairAssociations(df: DataFrame, basketCol: String, itemCol: String,
                       minPairs: Long = 1L,
                       maxBasketSize: Int = 1000): DataFrame = {
    // cut: the distinct feeds the guard aggregate (its own action)
    // and then the item counts and both self-join sides — without it
    // the dedup shuffle re-runs in the guard's job and the query's
    val items = graft.core.Cut.of(
      df.select(col(basketCol).as("_b"), col(itemCol).as("_i")).distinct(),
      graft.core.Cut.Reread)
    // ONE action yields both guards: basket count and the largest
    // basket (two separate counts were two extra jobs over the data)
    val guard = items.groupBy("_b").agg(count(lit(1)).as("_sz"))
      .agg(count(lit(1)).as("_n"), max("_sz").as("_mx")).head()
    val nBaskets = guard.getLong(0)
    require(nBaskets > 0, "no baskets: association undefined")
    val maxSz = guard.getLong(1) // non-null once nBaskets > 0
    require(maxSz <= maxBasketSize,
      s"a basket has $maxSz items > maxBasketSize=$maxBasketSize: " +
        "pair expansion would be quadratic — raise the cap explicitly " +
        "or pre-filter")
    val itemCnt = items.groupBy("_i").agg(count(lit(1)).as("_c"))
    val a = items.select(col("_b"), col("_i").as("item_a"))
    val b = items.select(col("_b"), col("_i").as("item_b"))
    a.join(b, Seq("_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairs)
      .join(itemCnt.withColumnRenamed("_i", "item_a")
        .withColumnRenamed("_c", "_ca"), Seq("item_a"))
      .join(itemCnt.withColumnRenamed("_i", "item_b")
        .withColumnRenamed("_c", "_cb"), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        round(col("n_pair").cast("double") / nBaskets.toDouble, 6)
          .as("support"),
        round(col("n_pair").cast("double") * nBaskets.toDouble /
          (col("_ca").cast("double") * col("_cb").cast("double")), 6)
          .as("lift"))
  }

  /** RFM segmentation: per customer, recency (periods since last
    * activity, against the corpus max date as the reference "now" —
    * a driver literal), frequency (order count), monetary (decimal-
    * exact spend), and the 1–5 quintile code of each axis (ntile over
    * a total order with the id as tiebreaker — deterministic).
    * Recency quintile 5 = most recent, matching the marketing
    * convention that 555 is the best segment. Output: (idCol,
    * recency_days, frequency, monetary, r, f, m). The ntile windows
    * run over #customers rows — the accepted global-window domain
    * (ntile_window's precedent); segment at billions of customers by
    * bucketing first. */
  def rfm(df: DataFrame, custCol: String, dateCol: String,
          amountCol: String): DataFrame = {
    val d = col(dateCol).cast("date")
    val maxDate = df.agg(max(d)).head().getDate(0)
    val per = df.groupBy(col(custCol).as("cust"))
      .agg(datediff(lit(maxDate), max(d)).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)")).cast("double")
          .as("monetary"))
    def tile(c: String, asc: Boolean) = ntile(5).over(
      Window.orderBy(
        (if (asc) col(c).asc else col(c).desc), col("cust").asc))
    per.select(col("cust").as(custCol), col("recency_days"),
      col("frequency"), col("monetary"),
      tile("recency_days", asc = false).as("r"), // most recent -> 5
      tile("frequency", asc = true).as("f"),
      tile("monetary", asc = true).as("m"))
  }
}
