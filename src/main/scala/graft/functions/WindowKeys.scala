package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared window-partitioning helpers. */
object WindowKeys {

  /** Constant-but-NOT-foldable partition key for a window that is
    * intentionally global over a BOUNDED (post-limit) slice.
    *
    * Why not `lit(0)`: the optimizer's EliminateWindowPartitions rule
    * strips foldable partition expressions, which resurrects the
    * "WindowExec: No Partition Defined" warning the key exists to
    * silence — and that warning must stay meaningful (a REAL unbounded
    * window should be the only thing that triggers it). Anchoring the
    * expression on an input attribute (`least(length(cast(c)), 0)`,
    * value 0 for every key, since a length is never negative) keeps
    * it in the plan while preserving single-partition semantics for
    * any column type. `least` skips NULLs, so a NULL input is 0 too
    * (no partition of its own, no duplicate rank 1s). Not `length(..)
    * * 0`: ReorderAssociativeOperator folds an integral product with
    * a zero factor to the literal 0 when the other factor is
    * non-nullable, and the key was stripped for every non-nullable
    * input (`explode(split(..))` words, say). */
  def boundedRankKey(c: Column): Column =
    least(length(c.cast("string")), lit(0))
}
