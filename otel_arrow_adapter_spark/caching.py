"""Materialization scope: one way to materialize intermediates, freed on
exit — errors included.

Library functions materialize intermediates that their result's plan uses
more than once (doc-grain minhash signature tables, LSH candidates,
simhash signatures, k-means rounds).  Left alone, those materializations
live for the whole session — harmless at sf0.01, a real memory accrual in
a long-lived 100 TB session.  The reference frees its builders after
every batch (pkg/otel/arrow_record/producer.go:46-48); here the
equivalent is a scope::

    with materialize_scope() as m:
        sig = m.keep(_doc_signatures(docs, 8))     # materialized, held
        cand = m.own(lsh_candidates(sig))          # a callee's owned result, held
        for ...:
            nxt = m.keep(step(cur)); m.free(cur); cur = nxt  # one round early
        return owned_result(out)                   # the one frame the caller gets

Leaving the block releases everything still held, also when an error is
raised.  ``owned_result`` is the only way to hand a result to the caller:
it materializes the result before the scope frees what its plan read, and
the caller calls ``result.unpersist()`` when done.  After that the session
holds zero lingering RDDs (asserted by
tests/test_functions.py::test_no_lingering_caches_* and the
injected-failure tests next to them).

Every materialization is a local checkpoint, never persist(): both run one
job over the same plan, but the checkpoint TRUNCATES the lineage to a flat
LogicalRDD while persist() only short-circuits execution — every later
action on a persisted frame still re-analyzes the full nested logical plan
(Catalyst + AQE walk the whole tree before the CacheManager substitutes
the cache).  Measured on the LSH->Jaccard->CC chain at sf0.1: the
connected-components edges materialization alone paid 2.3 s of pure
re-analysis of the already-cached pair-finder lineage; with
checkpoint-truncated frames the same step is ~0.2 s and the chain drops
8.8 s -> 6.1 s end to end.  In iterative loops the nesting compounds: a
13-node chain under persist-only rounds climbed 1.1 s -> 9.7 s per round
by round 10 (plan rendering for the SQL listener); truncated rounds stay
flat.  Checkpoint storage lives at RDD level, invisible to
Dataset.unpersist, so release goes through the LogicalRDD's RDD handle;
a checkpoint whose job fails is released before the error propagates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class materialize_scope:
    """Scope for intermediates (a context manager, like
    ``contextlib.suppress``): everything ``keep``-ed or ``own``-ed in the
    block is released on exit, errors included."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def __enter__(self) -> materialize_scope:
        return self

    def __exit__(self, *exc_info) -> None:
        while self._held:
            _release(self._held.pop())

    def keep(self, df: DataFrame) -> DataFrame:
        """Eagerly local-checkpoint ``df`` and hold it until the scope
        closes.  A frame that is already materialized (Dataset-cached, or
        a checkpoint-truncated LogicalRDD) comes back unchanged and is not
        held: it belongs to whoever materialized it."""
        level = df.storageLevel
        if level.useMemory or level.useDisk or _rdd(df) is not None:
            return df
        return self.own(_checkpoint(df))

    def own(self, df: DataFrame) -> DataFrame:
        """Hold an ``owned_result`` a callee handed out, so the scope
        frees it instead of the caller."""
        self._held.append(df)
        return df

    def free(self, df: DataFrame) -> None:
        """Release a held frame now — one round of an iterative loop.
        No-op for a frame the scope does not hold."""
        for i, held in enumerate(self._held):
            if held is df:
                _release(self._held.pop(i))
                return


def owned_result(result: DataFrame) -> DataFrame:
    """Eagerly materialize ``result`` with a flat lineage and hand it to
    the caller, who should ``unpersist()`` it when done (rebound here to
    free the checkpoint RDD).

    Inside a scope, call this before the block exits: the checkpoint job
    reads the scope's intermediates while they are still held, and
    afterwards only the (typically much smaller) result stays resident."""
    out = _checkpoint(result)

    def _unpersist(blocking: bool = False) -> DataFrame:
        _release(out, blocking)
        return out

    out.unpersist = _unpersist
    # the un-truncated producing plan, for plan-quality gates (the
    # checkpointed frame's own plan is a flat LogicalRDD by design)
    out.pre_checkpoint = result
    return out


def _checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``; if its job fails, the RDD the
    checkpoint registered is released before the error propagates.

    (Eager, not a lazy checkpoint plus a count: an ``Observation`` on the
    plan only sees rows processed inside the checkpoint action itself.)"""
    jsc = df.sparkSession.sparkContext._jsc
    floor = jsc.sc().newRddId()  # every RDD created below gets a larger id
    try:
        return df.localCheckpoint(eager=True)
    except BaseException:
        # the failed checkpoint hands back no frame; its RDD is the one
        # persisted since ``floor`` (this package submits its jobs from
        # one driver thread, so no other caller's RDD is newer)
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id > floor:
                rdd.unpersist(False)
        raise


def _rdd(df: DataFrame):
    """The RDD behind a checkpoint-truncated frame, else None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None


def _release(df: DataFrame, blocking: bool = False) -> None:
    rdd = _rdd(df)
    if rdd is not None:
        rdd.unpersist(blocking)
