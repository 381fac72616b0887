package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wiring invariants of the bench catalog — no SparkSession needed.
  * Guards the FROZEN cross-round comparison set: stable_total_sec is only
  * comparable across rounds if the set (a) never changes size and (b) every
  * member is still a workload the sweep actually runs — a catalog rename
  * would otherwise silently shrink the frozen total and read as a perf win.
  */
class BenchCatalogSpec extends AnyFunSuite {

  test("frozen set is exactly the 118 r5-close workloads") {
    assert(Bench.frozen.size == 118)
  }

  test("every frozen workload is still runnable by the sweep") {
    val runnable = Bench.headline.toSet ++ Bench.refWorkloads
    val orphans = Bench.frozen -- runnable
    assert(orphans.isEmpty,
      s"frozen workloads no longer in the sweep: ${orphans.mkString(", ")}")
  }

  test("frozen scale set is the r7 family plus the r11 6-D merge entry") {
    // 21 entries frozen at r7 + sky_20m_6d_xfilter_nat (judge r10 item 6);
    // scale_total_sec is cross-round comparable within r11+, or minus the
    // 6-D entry when reaching back to r7-r10 totals
    assert(Bench.frozenScale.size == 22)
    assert(Bench.frozenScale.contains("sky_20m_6d_xfilter_nat"))
    val orphans = Bench.frozenScale -- (Bench.headline.toSet ++ Bench.refWorkloads)
    assert(orphans.isEmpty,
      s"frozen scale workloads no longer in the sweep: ${orphans.mkString(", ")}")
  }

  test("frozen stream set is the seven streaming scale entries (r13)") {
    // stream_total_sec is cross-round comparable from r13 on; the set must
    // never grow with the catalog (judge r12 item 5)
    assert(Bench.frozenStream.size == 7)
    assert(Bench.frozenStream.forall(_.startsWith("stream_")))
    val orphans =
      Bench.frozenStream -- (Bench.headline.toSet ++ Bench.refWorkloads)
    assert(orphans.isEmpty,
      s"frozen stream workloads no longer in the sweep: ${orphans.mkString(", ")}")
  }

  test("every frozen scale/stream workload carries quiet-ref evidence") {
    // the __quiet_ref self-adjudication (judge r12 item 3) only works if
    // the map covers the whole frozen family — a new frozen entry without
    // committed quiet evidence would silently lack its headline cause label
    val uncovered =
      (Bench.frozenScale ++ Bench.frozenStream) -- Bench.quietRef.keySet
    assert(uncovered.isEmpty,
      s"frozen workloads without a quietRef entry: ${uncovered.mkString(", ")}")
    val unknown =
      Bench.quietRef.keySet -- (Bench.headline.toSet ++ Bench.refWorkloads)
    assert(unknown.isEmpty,
      s"quietRef names not in the sweep: ${unknown.mkString(", ")}")
    assert(Bench.quietRef.values.forall(_ > 0.0))
  }

  test("every frozen catalog workload has a SparkEntry.queries entry") {
    // ref workloads are coded inline in Bench.main; catalog members must
    // resolve through SparkEntry or runCatalog skips them silently
    val catalogFrozen = Bench.frozen -- Bench.refWorkloads
    val missing = catalogFrozen -- SparkEntry.queries.keySet
    assert(missing.isEmpty,
      s"frozen catalog workloads without a query entry: ${missing.mkString(", ")}")
  }

  test("headline names are distinct and known to SparkEntry") {
    assert(Bench.headline.distinct == Bench.headline)
    val missing = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty,
      s"headline workloads without a query entry: ${missing.mkString(", ")}")
  }

  test("BenchScale runs the shared entry table plus its four scale-only twins") {
    // one definition per entry: a BenchScale name outside the shared table
    // would be a re-typed copy that can drift from Bench's
    val shared = BenchHarness.entries.map(_.name) ++ BenchScale.streamTwins.map(_.name)
    assert(shared.count(_.startsWith("sky_")) == 12 && shared.size == 23)
    val names = BenchScale.entryNames
    assert(names.distinct == names)
    assert(names.toSet -- shared == Set("dedup_minhash_capped_600k",
      "dedup_minhash_capped_600k_base", "dedup_simhash_wide_600k",
      "dedup_simhash_wide_600k_base"))
    assert(shared.toSet.subsetOf(names.toSet))
    // every table entry is a reference workload SPARK_GRAFT_ONLY accepts
    val tableNames = BenchHarness.entries.map(_.name) ++ BenchHarness.streams.map(_.name)
    assert(tableNames.distinct == tableNames)
    assert(tableNames.toSet.subsetOf(Bench.refWorkloads))
  }

  test("README's driver-gated query count matches SparkEntry.queries") {
    // the count drifted twice (r7: 185 written as 187; r8: 188 written as
    // 187) — pin the doc to the code so it cannot drift again
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = """(\d+) driver-gated queries""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer states the driver-gated count")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README says ${m.get.group(1)} driver-gated queries, " +
        s"SparkEntry has ${SparkEntry.queries.size}")
  }

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).mkString(", ")}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).mkString(", ")}")
  }
}
