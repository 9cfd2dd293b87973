"""One scope for the loop checkpoints of an iterative operator.

Iterative operators (graph loops, ALS, boosting, Newton fits) cut
lineage with an eager ``localCheckpoint`` per round. Neither
``DataFrame.unpersist`` nor dropping the last reference frees a local
checkpoint's blocks (checked on Spark 4.1); only unpersisting the
checkpoint's own RDD does. :class:`CheckpointScope` owns that
bookkeeping::

    with CheckpointScope() as scope:
        state = scope.pin(init)
        for _ in range(n):
            new = scope.pin(step(state))
            scope.drop(state)  # superseded: free its blocks now
            state = new
        return scope.keep(state.select(...))

Leaving the scope, normally or by an exception, frees every checkpoint
it pinned except those a kept frame reads. The scope knows a
checkpoint by the RDD in the checkpoint's own ``LogicalRDD``, so
storage the caller owns (a ``.cache()``d or lazily checkpointed input
that first materializes during a pin) is never touched.

Stats-compounding guard: Spark keeps the origin plan's size estimate
on a checkpoint, and join estimation multiplies child sizes, so a loop
whose round reads the previous checkpoint k times grows the estimate
about k-fold in bit length per round (connected components reads its
labels three times). By round 8-10 Spark's planner spends tens of
seconds per action multiplying thousand-digit integers (b81: 0.3 s to
56 s per round, found with jstack). An estimate past 2^256 bytes carries no
planning information, so :meth:`CheckpointScope.pin` then rebuilds the
frame over the same checkpointed rows with unknown size. Plans for
honestly sized checkpoints are untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: bit length past which a checkpoint's preserved size estimate is
#: replaced with "unknown" (2^256 bytes carries no planning signal)
_MAX_STATS_BITS = 256


def _leaf_rdds(df: DataFrame):
    """The JVM RDDs under the ``LogicalRDD`` leaves of ``df``'s plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getName().endswith(".LogicalRDD"):
            yield leaf.rdd()


class CheckpointScope:
    """Pins loop state with eager local checkpoints and frees every
    pin on exit except the ones a :meth:`keep` frame reads."""

    def __init__(self) -> None:
        self._pinned: dict[int, object] = {}  # checkpoint RDD id -> RDD
        self._owner: dict[int, int] = {}  # rebuilt leaf RDD -> checkpoint
        self._kept: set[int] = set()

    def __enter__(self) -> CheckpointScope:
        return self

    def __exit__(self, *exc) -> None:
        for rid, rdd in self._pinned.items():
            if rid not in self._kept:
                rdd.unpersist(False)
        self._pinned.clear()

    def pin(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` now as a local checkpoint owned by the
        scope (see the module docstring for the stats guard)."""
        out = df.localCheckpoint(eager=True)
        jqe = out._jdf.queryExecution()
        rdd = jqe.analyzed().rdd()
        rid = rdd.id()
        self._pinned[rid] = rdd
        size = int(jqe.optimizedPlan().stats().sizeInBytes())
        if size.bit_length() > _MAX_STATS_BITS:
            spark = out.sparkSession
            jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
                out.schema.json()
            )
            out = DataFrame(
                spark._jsparkSession.internalCreateDataFrame(
                    jqe.toRdd(), jschema, False
                ),
                spark,
            )
            self._owner[out._jdf.queryExecution().analyzed().rdd().id()] = rid
        return out

    def _reads(self, df: DataFrame) -> set[int]:
        ids = {self._owner.get(r.id(), r.id()) for r in _leaf_rdds(df)}
        return ids & self._pinned.keys()

    def drop(self, df: DataFrame) -> None:
        """Free now every checkpoint of this scope that ``df`` reads:
        pass the superseded pinned table (or a frame over it alone)."""
        for rid in self._reads(df):
            self._pinned.pop(rid).unpersist(False)

    def keep(self, df: DataFrame) -> DataFrame:
        """Mark the checkpoints ``df`` reads to outlive the scope (the
        returned frame still scans them); returns ``df``."""
        self._kept |= self._reads(df)
        return df
