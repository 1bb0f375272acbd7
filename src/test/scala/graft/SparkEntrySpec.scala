package graft

import graft.SparkSpec

/** Driver-contract guards: the driver hash-compares
  * `SparkEntry.queries` against `oracleSql` by NAME, so a typo'd key
  * or an oracle without a query silently weakens the round. */
class SparkEntrySpec extends SparkSpec {

  describe("driver contract") {
    it("every oracle key has a registered query") {
      val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
      orphans shouldBe empty
    }
    it("covers the full SURVEY inventory (q01..q343, contiguous)") {
      SparkEntry.queries.size shouldBe 343
      val nums = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
      nums shouldBe (1 to 343).map(i => f"q$i%02d").toSet
    }
    it("every registered query carries a DuckDB oracle") {
      // the rows-only set is EMPTY since r11: q329_pca_wide gained a
      // gated oracle when CovMoments went exact-integer (bit-identical
      // moments in any merge order — SURVEY §2 row 329)
      SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet shouldBe
        Set.empty[String]
    }
    it("oracle SQL never references scratch paths or spark-only syntax markers") {
      SparkEntry.oracleSql.values.foreach { sql =>
        sql should not include "/root/repo/target"
        sql.toLowerCase should not include "tablesample"
      }
    }
    it("entry() returns non-empty rows at smoke scale") {
      SparkEntry.entry(spark).count() should be > 0L
    }
    it("EVERY query runs and returns rows at sf0.001 (cross-SF smoke)") {
      // catches SF-sensitive breakage (empty windows, missing
      // combos) that the sf0.01-only parity gate would miss; the same
      // pass checks cache hygiene: a query must leave nothing in the
      // caller's CacheManager (intermediates go through Plans.barrier,
      // whose blocks the ContextCleaner reclaims)
      val dir = "/root/testdata/sf0.001"
      val cacheManager = spark.sharedState.cacheManager
      val results = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) =>
          spark.catalog.clearCache()
          val n = fn(spark, dir).count()
          (name, n, cacheManager.isEmpty)
      }
      // sf0.001 has 10 suppliers (keys 0..9, one per nation): q107's
      // cursor starts above key 50 and q196/q306's same-nation
      // supplier graph has no edges, so these three are empty by data
      val emptyByData =
        Set("q107_jdbc_ingest", "q196_label_prop", "q306_modularity")
      val noRows = results.collect { case (name, 0L, _) => name }
      val leaked = results.collect { case (name, _, false) => name }
      noRows.filterNot(emptyByData) shouldBe Seq.empty
      leaked shouldBe Seq.empty
    }
  }
}
