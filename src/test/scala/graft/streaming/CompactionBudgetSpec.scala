package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.io.DerivedStore

/** The LSM tiers and the stream folds share one major-compaction budget
  * (`DerivedStore.fileBudget`) and one bytes → file-count rule
  * (`DerivedStore.filesFor`). Each used to spell its own; those
  * formulas are kept here, inline, as the reference the shared rules
  * must reproduce at every size. */
class CompactionBudgetSpec extends AnyFunSuite {

  private val Sbpf = DerivedStore.SourceBytesPerFile

  /** Byte sizes around every edge of both formulas: no bytes, one
    * ideal file, the fold's old 8-file floor, the 128-file crossover
    * where `4 × ideal` overtakes `8 × Buckets`, and warehouse scale. */
  private val sizes =
    Seq(0L, 1L, 8L, 127L, 128L, 129L, 10000L).map(_ * Sbpf)

  test("fileBudget reproduces the LSM tiers' and the stream folds' old budgets") {
    val foldFloor = 2L * StreamTierIngest.Buckets
    assert(foldFloor == 128L)
    for (bytes <- sizes; floor <- Seq(8L, 128L)) {
      // the LSM tiers' budget, floored at the tier's numFiles
      val lsmOld = 4L * math.max(floor, bytes / Sbpf)
      assert(DerivedStore.fileBudget(bytes, floor) == lsmOld, s"bytes=$bytes floor=$floor")
    }
    for (bytes <- sizes) {
      // the folds' budget: 8 runs per bucket, or 4× the ideal count
      // (itself floored at 8 files)
      val foldOld = math.max(8L * StreamTierIngest.Buckets,
        4L * math.max(8L, bytes / Sbpf))
      assert(DerivedStore.fileBudget(bytes, foldFloor) == foldOld, s"bytes=$bytes")
    }
  }

  test("filesFor reproduces every old bytes-to-file-count formula") {
    for (bytes <- sizes ++ sizes.map(_ + Sbpf / 2)) {
      val ideal = bytes / Sbpf
      // the folds' writer sizing (floor 8, capped)
      assert(DerivedStore.filesFor(bytes, 8) ==
        math.max(8, math.min(ideal, DerivedStore.MaxTierFiles).toInt))
      // the LSM delta runs (floor 1, capped)
      assert(DerivedStore.filesFor(bytes, 1) ==
        math.max(1, math.min(ideal, DerivedStore.MaxTierFiles).toInt))
      // the corpus sync's restage target (floor 1)
      assert(DerivedStore.filesFor(bytes, 1).toLong == math.max(1L, ideal))
      // the bucketed patch's rewrite (floor: the touched bucket count)
      for (touched <- Seq(1, 4, 32))
        assert(DerivedStore.filesFor(bytes, touched) ==
          math.max(touched.toLong, ideal).toInt)
    }
  }

  test("the test hook overrides the budget and nothing else") {
    DerivedStore.lsmBudgetOverride = Some(0L)
    try {
      assert(DerivedStore.fileBudget(10000L * Sbpf, 128L) == 0L)
      assert(DerivedStore.filesFor(10000L * Sbpf, 8) == 10000)
    } finally DerivedStore.lsmBudgetOverride = None
    assert(DerivedStore.fileBudget(0L, 128L) == 512L)
  }
}
