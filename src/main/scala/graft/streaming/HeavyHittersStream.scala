package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming Misra–Gries heavy hitters — the stateful form of the
  * batch `frequent_items` sketch (expressions/FrequentItems.scala),
  * completing the batch↔stream parity the MinHash dedup pair set
  * (reference's only stateful flow, etl_slimpajama_dc_proc.py:119-166,
  * already has both forms).
  *
  * Shape: tokens hash-partition into `groups` disjoint key groups;
  * each group's state is ONE Misra–Gries candidate map bounded at
  * `capacity` entries, updated per micro-batch by
  * flatMapGroupsWithState. Because a token lives in exactly one
  * group, the per-group MG bound applies verbatim: any token whose
  * GROUP-substream frequency exceeds n_g/(capacity+1) survives in
  * that group's candidate set, and since n_g ≤ n, every token with
  * GLOBAL frequency > n/(capacity+1) is guaranteed present in the
  * union of group candidates — the same superset contract as the
  * batch sketch, state bounded at groups × capacity counters forever.
  *
  * Each batch a touched group re-emits its full candidate set tagged
  * with `version` = tokens processed by that group so far (monotone
  * per group); "current candidates" = rows with the max version per
  * group. MG counts are merge-order-dependent lower bounds, so like
  * the batch sketch the emitted `mg_count` is telemetry, never an
  * exact frequency — exact-count candidates downstream with one
  * broadcast semi-join, as TextQueries.heavy_hitters_mg does.
  */
object HeavyHittersStream {

  final case class TokenIn(token: String)
  final case class Candidate(grp: Int, version: Long, token: String,
                             mg_count: Long)

  /** MG offer step — mirrors expressions/FrequentItems.offer (the
    * lazily-batched decrement variant) on plain Strings for per-group
    * streaming state. Kept textually tiny so the two cannot drift:
    * increment if tracked or a slot is free, else decrement everyone
    * by the minimum and admit only what survives.
    */
  private[graft] def offer(buf: mutable.HashMap[String, Long],
                           capacity: Int, item: String,
                           weight: Long): Unit = {
    buf.get(item) match {
      case Some(c) => buf.update(item, c + weight)
      case None if buf.size < capacity => buf.update(item, weight)
      case None =>
        val dec = math.min(weight, buf.valuesIterator.min)
        buf.mapValuesInPlace((_, c) => c - dec)
        buf.filterInPlace((_, c) => c > 0)
        if (weight > dec) buf.update(item, weight - dec)
    }
  }

  /** Per-group state row (public: Spark's codegen'd encoder must be
    * able to construct it inside the state store serializer).
    */
  final case class GroupState(seen: Long, counts: Map[String, Long])

  /** Candidate stream over `tokens`: Append-mode rows (group,
    * version, token, mg_count); take max-version rows per group for
    * the current candidate sets. `groups` spreads state and work
    * (one group = the classic single sketch; more groups scale
    * updates across executors without weakening the bound — see
    * object doc).
    */
  def heavyHittersStream(tokens: Dataset[TokenIn], capacity: Int,
                         groups: Int = 8): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1: $capacity")
    require(groups >= 1, s"groups must be >= 1: $groups")
    import tokens.sparkSession.implicits._
    tokens
      .filter(_.token != null)
      .groupByKey(t => math.floorMod(t.token.hashCode, groups))
      .flatMapGroupsWithState[GroupState, Candidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (group: Int, it: Iterator[TokenIn], state) =>
          val buf = mutable.HashMap.empty[String, Long]
          var seen = 0L
          state.getOption.foreach { s =>
            buf ++= s.counts
            seen = s.seen
          }
          it.foreach { t => offer(buf, capacity, t.token, 1L); seen += 1 }
          state.update(GroupState(seen, buf.toMap))
          val version = seen
          buf.toSeq.sortBy { case (tok, c) => (-c, tok) }
            .map { case (tok, c) => Candidate(group, version, tok, c) }
            .iterator
      }
      .toDF()
  }
}
