package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CalibrationScan.{CalIndices, Flags, scan}

/** ST1 quirk fixtures (ref utils.py:126-214) — these pin the literal port:
  * counter-reset truthiness, post-cal run-reset, fallback rescan, and the
  * index-0 truthiness fallbacks called out in SURVEY §7.5.1.
  */
class CalibrationScanSpec extends AnyFunSuite {

  private def rows(pattern: (Int, Int)*): IndexedSeq[Flags] =
    pattern.map { case (c, s) => Flags(c, s, "onoff:on") }.toIndexedSeq

  private val on = (1, 0)   // diode on spike row
  private val off = (0, 0)  // diode off spike row
  private val data = (0, 1) // valid science row

  test("normal observation: data start after spike, post-cal = start of trailing run") {
    val r = rows(Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(12)(data) ++
      Seq.fill(4)(off) ++ Seq.fill(4)(on): _*)
    val idx = scan(r, channelCount = 1, headerObsmode = "none")
    assert(idx.dataStart.contains(8))
    assert(idx.postCalStart == 20)
    assert(idx.offStart.isEmpty)
  }

  test("short data run (counter <= 3*channelCount) abandons the candidate start") {
    // 2 data rows then an invalid sweep: candidate start 8 is abandoned
    // (ref utils.py:169-173), scan resumes and finds the next start.
    val r = rows(Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(2)(data) ++
      Seq(off) ++ Seq.fill(12)(data): _*)
    val idx = scan(r, 1, "none")
    assert(idx.dataStart.contains(11))
  }

  test("counter does NOT reset across abandoned starts (ref utils.py:165-167)") {
    // After abandonment the counter keeps its value, so the second candidate
    // survives an early swp=0 row once cumulative count > 3.
    val r = rows(Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(3)(data) ++
      Seq(off) ++ Seq.fill(2)(data) ++ Seq(off) ++ Seq.fill(8)(data): _*)
    val idx = scan(r, 1, "none")
    // First candidate (8) dies at row 11 (counter 3 <= 3); second (12) lives:
    // at row 14 the cumulative counter is already 5 > 3.
    assert(idx.dataStart.contains(12))
  }

  test("mid-observation blip does not count as post-cal (run reset, ref utils.py:160-163)") {
    val r = rows(Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(8)(data) ++
      Seq.fill(2)(off) ++ Seq.fill(8)(data) ++ Seq.fill(3)(off): _*)
    val idx = scan(r, 1, "none")
    // The 2-row blip at 16-17 is reset by the data row at 18; the real
    // post-cal run starts at 26.
    assert(idx.postCalStart == 26)
  }

  test("break on new diode spike after data; no trailing run -> default len-1") {
    val r = rows(Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(8)(data) ++ Seq(on): _*)
    val idx = scan(r, 1, "none")
    assert(idx.dataStart.contains(8))
    // (swp=0, cal=1) at 16: postCal candidate resets to None right before the
    // break, so the default len−1 applies (ref utils.py:200-201).
    assert(idx.postCalStart == r.length - 1)
  }

  test("fallback: no pre-cal spike -> data starts at 0, post-cal rescanned") {
    val r = rows(Seq.fill(10)(data) ++ Seq.fill(4)(off): _*)
    val idx = scan(r, 1, "none")
    assert(idx.dataStart.contains(0))
    assert(idx.postCalStart == 10)
  }

  test("post-cal at index 0 is falsy -> len-1 (ref utils.py:200-201)") {
    // All rows swp=0 and no cal spike: fallback sets postCal=Some(0), which
    // Python truthiness treats as absent.
    val r = rows(Seq.fill(6)(off): _*)
    val idx = scan(r, 1, "none")
    assert(idx.dataStart.contains(0))
    assert(idx.postCalStart == r.length - 1)
  }

  test("data start at index 0 (fallback) never triggers the counter reset") {
    // dataStart=0 comes only from the fallback; `and data_start_ind` is then
    // falsy (ref utils.py:171) so early swp=0 rows cannot abandon it.
    val r = rows(Seq.fill(2)(data) ++ Seq(off) ++ Seq.fill(2)(data): _*)
    val idx = scan(r, 1, "none")
    assert(idx.dataStart.contains(0))
  }

  test("off_start: first row whose OBSMODE contains onoff:off, onoff files only") {
    val base = Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(8)(data)
    val r = base.zipWithIndex.map { case ((c, s), i) =>
      Flags(c, s, if (i >= 12) "K20:onoff:off:med" else "K20:onoff:on:med")
    }.toIndexedSeq
    assert(scan(r, 1, "onoff").offStart.contains(12))
    assert(scan(r, 1, "track").offStart.isEmpty)
    val never = rows(base: _*)
    assert(scan(never, 1, "onoff").offStart.isEmpty)
  }

  test("higher channelCount widens the abandonment threshold") {
    // 10 data rows: with channelCount=4 the threshold is 12, so a trailing
    // swp=0 row abandons the start; with channelCount=1 (threshold 3) it survives.
    val r = rows(Seq.fill(4)(on) ++ Seq.fill(4)(off) ++ Seq.fill(10)(data) ++
      Seq(off) ++ Seq.fill(20)(data): _*)
    assert(scan(r, 4, "none").dataStart.contains(19))
    assert(scan(r, 1, "none").dataStart.contains(8))
  }

  test("scanStreaming ≡ scan: exhaustive short sequences and random long ones") {
    // The one-pass O(1)-state form must agree with the reference-exact
    // array scan on EVERY input: all flag sequences up to length 7 over
    // the 3 meaningful flag states × obsmode on/off, plus seeded random
    // length-200 sequences across channel counts. Rows carry increasing
    // ROWIDX with gaps, and the ROWIDX the streaming form reports must be
    // those of the rows at the array scan's data start (row 0 when there
    // is none) and post-cal start.
    val states = Seq((1, 0), (0, 0), (0, 1))
    def check(r: IndexedSeq[Flags], cc: Long, mode: String): Unit = {
      val a = scan(r, cc, mode)
      val b = CalibrationScan.scanStreaming(r.iterator, cc, mode)
      assert(a == b.idx, s"mismatch on $r cc=$cc mode=$mode: $a vs ${b.idx}")
      if (r.nonEmpty) {
        val keys = (r(a.dataStart.getOrElse(0)).rowidx, r(a.postCalStart).rowidx)
        assert((b.dataStartRowidx, b.postCalRowidx) == keys,
          s"ROWIDX mismatch on $r cc=$cc mode=$mode: $keys vs $b")
      }
    }
    for (len <- 0 to 7) {
      val combos = Seq.fill(len)(states.indices).foldLeft(Seq(Seq.empty[Int])) {
        (acc, idxs) => acc.flatMap(p => idxs.map(i => p :+ i))
      }
      combos.foreach { p =>
        val r = p.zipWithIndex.map { case (si, i) =>
          val (c, s) = states(si)
          Flags(c, s, if (i % 3 == 2) "onoff:off" else "onoff:on", 10L * i + i % 3)
        }.toIndexedSeq
        check(r, 1, "onoff"); check(r, 1, "none")
      }
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200) {
      var key = rnd.nextInt(1000).toLong - 500
      val r = IndexedSeq.fill(200) {
        val (c, s) = states(rnd.nextInt(3))
        key += 1 + rnd.nextInt(5)
        Flags(c, s, if (rnd.nextInt(10) == 0) "x onoff:off y" else "onoff:on", key)
      }
      check(r, 1 + rnd.nextInt(4), if (rnd.nextBoolean()) "onoff" else "none")
    }
  }
}
