package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.Defaults
import java.sql.Timestamp

/** T5 (stateful retry with widening backoff) as arbitrary stateful
  * streaming: per-source-key state via `flatMapGroupsWithState`, the shape
  * that carries attempt counts across micro-batches without a state table
  * round-trip per batch.
  *
  * Semantics mirror the batch DLQ operators (`graft.ops.Dlq.retryState`;
  * reference Source/Services/DeadLetterReplayService.cs:134-141): the first
  * failure waits one base delay (60 s) and each further failure doubles it,
  * capped at 6 h; a success clears
  * the key's state; reaching `maxAttempts` flags the key as given up.
  * State is keyed by source key only — O(live failing keys), not O(events)
  * — and removed eagerly on resolution, so the store stays bounded by the
  * failing-key working set at any corpus scale.
  */
object StatefulRetry {

  final case class Attempt(sourceKey: String, ts: Timestamp, success: Boolean)
  final case class RetryState(attempts: Int, nextAttemptEpoch: Long)
  final case class RetryDecision(sourceKey: String, attempts: Int,
      backoffSeconds: Long, nextAttemptEpoch: Long, gaveUp: Boolean,
      resolved: Boolean)

  val MaxBackoffSeconds: Long = Defaults.DlqBackoffCapSeconds.toLong

  /** Fold each key's attempts (event-time ordered within the batch) through
    * the per-key state. Works identically over a batch Dataset (single
    * group pass) and a stream (state carried across micro-batches). */
  def decide(events: Dataset[Attempt],
             baseBackoffSeconds: Long = Defaults.DlqBackoffBaseSeconds.toLong,
             maxAttempts: Int = Defaults.DlqMaxReplayAttempts): Dataset[RetryDecision] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.sourceKey)
      .flatMapGroupsWithState[RetryState, RetryDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state: GroupState[RetryState]) =>
          var s = state.getOption.getOrElse(RetryState(0, 0L))
          val out = Vector.newBuilder[RetryDecision]
          it.toVector.sortBy(_.ts.getTime).foreach { a =>
            if (a.success) {
              out += RetryDecision(key, 0, 0L, 0L, gaveUp = false, resolved = true)
              s = RetryState(0, 0L)
            } else {
              val attempts = s.attempts + 1
              // Pre-increment count drives the delay: first failure = base.
              val backoff = math.min(MaxBackoffSeconds,
                baseBackoffSeconds << math.min(attempts - 1, 30))
              val next = a.ts.getTime / 1000 + backoff
              out += RetryDecision(key, attempts, backoff, next,
                gaveUp = attempts >= maxAttempts, resolved = false)
              s = RetryState(attempts, next)
            }
          }
          if (s.attempts == 0) state.remove() else state.update(s)
          out.result().iterator
      }
  }
}
