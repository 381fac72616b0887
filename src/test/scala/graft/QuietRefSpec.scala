package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Self-checking quiet refs (judge r13 item 3) — no SparkSession needed.
  *
  * `Bench.quietRef` is the per-entry best committed quiet evidence that the
  * sweep's `__headline_cause` adjudication compares against. It used to be a
  * hand-refreshed literal with nothing tying it to committed artifacts: a
  * transcription error (3.99 typed as 0.399) would label every headline
  * `host_noise_vs_quiet_ref` and silently excuse a real regression.
  *
  * The evidence now lives in `BENCH_SNAPSHOTS.jsonl` — an APPEND-ONLY
  * committed ledger of sweep records (one JSON object per line:
  * `{"source": ..., "note": ..., "entries": {name: sec}}`). It is seeded
  * from the r13 close of record (the r13 driver's BENCH_FULL.json plus the
  * refs the r13 judge adjudicated against the builder sweep at e5be140 and
  * the PLANS.md isolated pairs); each later close-of-record sweep or
  * isolated quiet pair appends a line. Old BENCH_r*.json rounds are NOT in
  * the ledger on purpose: several entries changed definition across rounds
  * (e.g. hybrid_rrf_600k gained its list materialization), so a min over
  * all history would compare different workloads.
  *
  * Invariants, per quietRef entry:
  *  - committed evidence EXISTS (at least one ledger line carries the name);
  *  - ref <= ledger min * 1.05 — a new committed best more than 5% under
  *    the carried ref forces a refresh (the "refreshed each round" policy,
  *    enforced instead of promised);
  *  - ref >= ledger min * 0.5 — a ref under half the best number ever
  *    committed cannot be real quiet evidence (the transcription guard:
  *    isolated quiet pairs beat noisy sweeps by percents, not 2x).
  */
class QuietRefSpec extends AnyFunSuite {

  private val ledgerPath = java.nio.file.Paths.get("BENCH_SNAPSHOTS.jsonl")

  private lazy val ledgerMin: Map[String, Double] = {
    val mapper = new ObjectMapper()
    val acc = scala.collection.mutable.Map[String, Double]()
    java.nio.file.Files.readAllLines(ledgerPath).asScala
      .map(_.trim).filter(_.nonEmpty).zipWithIndex.foreach { case (line, i) =>
        val node = mapper.readTree(line)
        val entries = node.get("entries")
        assert(entries != null && entries.isObject,
          s"ledger line ${i + 1} has no entries object")
        entries.properties().asScala.foreach { e =>
          val v = e.getValue.asDouble(-1.0)
          assert(v > 0.0,
            s"ledger line ${i + 1} entry ${e.getKey} is not a positive number")
          acc(e.getKey) = math.min(acc.getOrElse(e.getKey, Double.MaxValue), v)
        }
      }
    acc.toMap
  }

  test("the evidence ledger exists and parses") {
    assert(java.nio.file.Files.exists(ledgerPath),
      "BENCH_SNAPSHOTS.jsonl missing — the quiet refs have no committed evidence")
    assert(ledgerMin.nonEmpty)
  }

  test("every quiet ref has committed evidence in the ledger") {
    val orphans = Bench.quietRef.keySet -- ledgerMin.keySet
    assert(orphans.isEmpty,
      s"quietRef entries with no committed evidence: ${orphans.mkString(", ")}")
  }

  test("every quiet ref tracks the committed minimum (<= min * 1.05)") {
    val stale = Bench.quietRef.toSeq.sortBy(_._1).flatMap { case (n, ref) =>
      ledgerMin.get(n).filter(m => ref > m * 1.05)
        .map(m => f"$n: ref $ref%.2f > committed min $m%.3f * 1.05")
    }
    assert(stale.isEmpty,
      "refs lagging a better committed sweep — refresh them:\n" +
        stale.mkString("\n"))
  }

  test("section refs dominate their members' per-entry floors (r15)") {
    // a section quiet ref is a best COMMITTED SWEEP total; the sum of its
    // members' per-entry bests is a floor no honest sweep achieves
    // simultaneously, so ref < floor means a transcription error
    val memberFloor = Map(
      "stable_total_sec" -> 0.0, // stable members carry no per-entry refs
      "scale_total_sec" -> Bench.frozenScale.toSeq
        .flatMap(Bench.quietRef.get).sum,
      "stream_total_sec" -> Bench.frozenStream.toSeq
        .flatMap(Bench.quietRef.get).sum)
    val bad = Bench.sectionQuietRef.toSeq.sortBy(_._1).flatMap {
      case (s, ref) => memberFloor.get(s).filter(_ > ref)
        .map(f => f"$s: section ref $ref%.2f < member floor $f%.2f")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(Bench.sectionQuietRef.keySet ==
      Set("stable_total_sec", "scale_total_sec", "stream_total_sec"))
  }

  test("section brackets sum only the lap each entry's min-of-pair keeps") {
    // a: the faster repeat is kept, so the steal burst on its first lap is
    // dropped; b: the first lap is kept, so the JIT storm on its slower
    // repeat is dropped; c: a failed first lap is not in the total
    val results = Map("a" -> 10.0, "b" -> 4.0, "c" -> -1.0)
    val repeats = Map("a" -> 6.0, "b" -> 9.0, "c" -> 3.0)
    val steal = Map("a" -> 30.0, "a__rep" -> 0.5, "b" -> 0.25,
      "b__rep" -> 2.0, "c__rep" -> 8.0)
    val gc = Map("a" -> 4.0, "a__rep" -> 0.125, "b" -> 0.5, "b__rep" -> 6.0)
    val jit = Map("a__rep" -> 1.0, "b" -> 0.25, "b__rep" -> 12.0, "c" -> 9.0)
    assert(Bench.keptLapBrackets(Set("a", "b", "c"), results, repeats,
      steal, gc, jit) == ((0.75, 0.625, 1.25)))
  }

  test("no quiet ref undercuts committed evidence by 2x (transcription guard)") {
    val bogus = Bench.quietRef.toSeq.sortBy(_._1).flatMap { case (n, ref) =>
      ledgerMin.get(n).filter(m => ref < m * 0.5)
        .map(m => f"$n: ref $ref%.3f < committed min $m%.3f * 0.5")
    }
    assert(bogus.isEmpty,
      "refs below any committed evidence — likely a transcription error:\n" +
        bogus.mkString("\n"))
  }
}
