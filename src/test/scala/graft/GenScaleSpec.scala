package graft

import org.apache.spark.sql.functions._

/** Pins [[GenScale]]'s determinism claim (BASELINE.md's sf1/sf10 scale-up
  * measurements rest on it): two independent generations of the same
  * (mult, div) corpus must be CONTENT-identical, table by table — every
  * value is a pure hash of (table salt, row id), no RNG state, no
  * time-dependence. Runs on a ~1/100-of-sf0.1 corpus (150 customers,
  * 1.5 k orders, 1 k events, 50 docs, 20 vectors) so the pin costs
  * seconds, not a bench run.
  */
class GenScaleSpec extends SparkTestBase {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One order-independent content fingerprint per table: xor-agg of a
    * per-row hash over every column (timestamps/arrays stringified via
    * to_json so the hash covers full precision).
    */
  private def fingerprint(dir: String, table: String): (Long, BigDecimal) = {
    val df = spark.read.parquet(s"$dir/$table.parquet")
    val rowHash = xxhash64(to_json(struct(df.columns.map(col).toSeq: _*)))
    val r = df.select(
      count(lit(1)).as("n"),
      // decimal sum: order/partition independent AND overflow-free
      sum(rowHash.cast("decimal(38,0)")).as("h"))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  test("GenScale is deterministic: two generations are content-identical") {
    val a = tempDir("genscale-a").toString
    val b = tempDir("genscale-b").toString
    GenScale.write(spark, a, mult = 1L, div = 100L)
    GenScale.write(spark, b, mult = 1L, div = 100L)
    tables.foreach { t =>
      val (na, ha) = fingerprint(a, t)
      val (nb, hb) = fingerprint(b, t)
      assert(na > 0, s"$t: generated empty")
      assert(na == nb && ha == hb,
        s"$t: generation not deterministic (rows $na vs $nb, hash $ha vs $hb)")
    }
    // sanity on the shrunken corpus's shape: lineitem fans out from orders
    val nOrd = spark.read.parquet(s"$a/orders.parquet").count()
    val nLi = spark.read.parquet(s"$a/lineitem.parquet").count()
    assert(nOrd == 1500L, s"orders $nOrd")
    assert(nLi > nOrd, "lineitem should fan out past orders")
  }

  test("zipforders mode: deterministic, mass-conserving, hot order is key 1 at ~ln2/ln n") {
    val a = tempDir("genscale-zo-a").toString
    val b = tempDir("genscale-zo-b").toString
    GenScale.write(spark, a, mult = 1L, div = 100L, zipfOrders = true)
    GenScale.write(spark, b, mult = 1L, div = 100L, zipfOrders = true)
    val (na, ha) = fingerprint(a, "lineitem")
    val (nb, hb) = fingerprint(b, "lineitem")
    assert(na == nb && ha == hb, "zipforders lineitem not deterministic")
    // same total line mass as the uniform mode's mean-4.0 fan-out
    val nOrd = 1500L
    assert(na == 4 * nOrd, s"line mass $na != 4*nOrd")
    val li = spark.read.parquet(s"$a/lineitem.parquet")
    // (l_orderkey, l_linenumber) still a key — every per-line value hash
    // depends on it
    assert(li.select("l_orderkey", "l_linenumber").distinct().count() == na)
    // the hot join key: id 1, holding ~ln2/ln(nOrd) of ALL lines (the
    // skew regime the mode exists to produce; wide band, exact law is
    // asymptotic)
    val top = li.groupBy("l_orderkey").count()
      .orderBy(col("count").desc).limit(1).head()
    assert(top.getLong(0) == 1L, s"hot order is ${top.getLong(0)}, want 1")
    val mass = top.getLong(1).toDouble / na
    val law = math.log(2) / math.log(nOrd.toDouble)
    assert(mass > law * 0.6 && mass < law * 1.6,
      f"hot-order mass $mass%.3f outside the ~$law%.3f ln2/ln(n) band")
    // od derivation consistency: every line's shipdate stays inside the
    // 1..95-day lag envelope of ITS order's o_orderdate, exactly like the
    // uniform mode (the join axis the mode stresses must stay sound)
    val bad = li.join(spark.read.parquet(s"$a/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(!datediff(col("l_shipdate"), col("o_orderdate")).between(1, 95))
      .count()
    assert(bad == 0L, s"$bad lines outside the ship-lag envelope of their order")
  }
}
