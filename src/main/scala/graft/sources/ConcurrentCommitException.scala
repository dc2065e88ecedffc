package graft.sources

/** The ONE retryable signal of the optimistic-concurrency commit paths:
  * a writer lost the race for a log/metadata version (Delta `NNN.json`
  * claim, Iceberg `vN.metadata.json` claim). Retry loops catch EXACTLY
  * this type — an unrelated `IllegalStateException` escaping a commit
  * body must surface immediately, not be silently re-driven up to the
  * attempt cap. Extends [[IllegalStateException]] so callers that treated
  * the race as an ISE (specs, CLI error mapping) keep working unchanged.
  */
final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

object ConcurrentCommitException {

  private val MaxAttempts = 32

  /** The commit retry loop of both table formats, used by BLIND appends
    * only: `attempt` reads the head, re-derives its commit from the state
    * at that head, and claims head + 1. A lost claim re-runs it on the
    * winner's state, up to [[MaxAttempts]] attempts; the last loss
    * propagates. Ops that read rows (merge, delete, overwrite, rewrites)
    * never come here: they claim their read base + 1 once and fail fast,
    * because their read set is stale after a lost race.
    */
  private[sources] def retry[T](attempt: => T): T = {
    var lost = 0
    while (true) {
      try return attempt
      catch {
        case _: ConcurrentCommitException if lost + 1 < MaxAttempts =>
          lost += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
