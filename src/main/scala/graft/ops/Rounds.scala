package graft.ops

import org.apache.spark.SparkContext

/** The round loop of the fixpoint operators. Loops that stay off it
  * on purpose:
  *   - the fixed-round lazy loops (`LabelProp.labelProp`,
  *     `ShortestPaths.boundedSssp`, `PageRank.pagerankInt`) are 5-line
  *     loops that stay lazy until one terminal action, so there is no
  *     materialized generation to free mid-loop;
  *   - `Knn.knn` ring-doubles over `.cache()`d rounds, not checkpoints,
  *     and unpersists them all once its small result is collected.
  */
object Rounds {

  /** Runs `round` from `seed` until a round reports stable or
    * `maxRounds` rounds have run; returns (final state, rounds run,
    * stable). The seed and every round must have materialized their
    * checkpoints (through their convergence action) when they return:
    * each is then one generation, and the one it superseded is freed.
    * Checkpoints made before the call are never freed, the final
    * generation stays alive, and the cap policy is the caller's. */
  def untilStable[S](sc: SparkContext, maxRounds: Int)(seed: => S)(
      round: S => (S, Boolean)): (S, Int, Boolean) = {
    val gen = new Generations(sc)
    var s = seed
    gen.commit()
    var n = 0
    var stable = false
    while (!stable && n < maxRounds) {
      val (next, st) = round(s)
      gen.commit()
      s = next; stable = st; n += 1
    }
    (s, n, stable)
  }

  /** Checkpoint-block hygiene for iterative operators — the bpeTrain
    * discipline (TextOps.bpeTrain's scaladoc has the full rationale),
    * factored out: each loop round replaces its working DataFrame, but
    * the superseded round's localCheckpoint blocks stay pinned in the
    * block manager until the session dies. In a long-lived JVM (the
    * driver's ~190-gate bench run) hundreds of leaked generations
    * permanently occupy the unified-memory storage region — execution
    * can only evict storage down to `spark.memory.storageFraction` —
    * and every later query pays for it in spill and GC (guide §5:
    * unpersist when done; measured before this hygiene: late-suite
    * gates ran 2–4× their isolated walls).
    *
    * SAFETY RULE (why only MATERIALIZED generations may be freed): a
    * localCheckpoint truncates lineage, so once a generation's blocks
    * are dropped they can never be recomputed — freeing is sound only
    * when no future job will read them. A generation is provably dead
    * when the NEXT generation has fully materialized (its blocks, not
    * the plan, are what later rounds read). Loops whose rounds stay
    * lazy until one terminal action (e.g. LabelProp) must NOT free
    * anything mid-loop.
    *
    * Spark logs "RDD N was locally checkpointed, its lineage has been
    * truncated and cannot be recomputed after unpersisting" for every
    * freed generation — that is exactly the property the safety rule
    * above relies on (nothing will ever read the freed generation);
    * the warning is expected and benign here.
    *
    * `commit()` frees the previous generation and makes the RDDs
    * persisted since the last commit the current one; a round that
    * persisted nothing still reads the current one, so it frees none. */
  private final class Generations(sc: SparkContext) {
    private def persisted = sc.getPersistentRDDs.keySet.toSet
    private var mark = persisted
    private var prev = Set.empty[Int]
    def commit(): Unit = {
      val now = persisted
      val fresh = now -- mark
      if (fresh.nonEmpty) {
        for (id <- prev; rdd <- sc.getPersistentRDDs.get(id))
          rdd.unpersist(blocking = false)
        mark = now -- prev
        prev = fresh
      }
    }
  }
}
