package graft.ops

import graft.SparkSpec

/** zorder_layout's payoff claim, demonstrated with real files: a 2-D
  * predicate plus write-time per-file min/max stats skips ≥3/4 of a
  * z-ordered layout and ~none of an unclustered layout of the same
  * rows — and the pruned read is EXACTLY the full scan's answer. */
class ZorderPruneSpec extends SparkSpec {

  test("2-D predicate: stats skip ≥3/4 of z-ordered files, ~none of unclustered; pruned ≡ full") {
    val base = tempDir("zp")
    val demo = ZorderPrune.demo(spark, sf, base)
    // the corpus populates (nearly) all 16 bit-aligned cells
    assert(demo.totalFiles >= 8, s"degenerate layout: $demo")
    // the within-quarter query box can only touch cells fixing the
    // matching top-2 bits of BOTH dims: ≤ 1/4 of files, typically 1
    assert(demo.zorderCandidates <= demo.totalFiles / 4,
      s"z-order pruned too little: $demo")
    // the unclustered control: every file's stat box spans ~everything,
    // so stats skip (almost) nothing
    assert(demo.unsortedCandidates >= demo.totalFiles - 2,
      s"unclustered layout should not prune: $demo")
    // skipping must be invisible to the answer
    assert(demo.rowsFull > 0, s"empty query box proves nothing: $demo")
    assert(demo.mismatches == 0 && demo.rowsPruned == demo.rowsFull,
      s"pruned read diverged from full scan: $demo")
    // beneath the file skip, the predicate reaches the parquet scan —
    // row-group pruning composes inside surviving files
    assert(demo.pushedFilters.contains("GreaterThanOrEqual") &&
      demo.pushedFilters.contains("LessThanOrEqual"),
      s"predicate not pushed to the scan: ${demo.pushedFilters}")
  }
}
