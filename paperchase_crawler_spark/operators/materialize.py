"""One lineage-cut policy for every reused intermediate.

An operator that reads a DataFrame more than once (a self-join's two sides,
a counts job before the real pass, a crawl round's commit chains) cuts it
through the ``Materializer`` it is handed — never a module-wide setting, so
concurrent pipelines cannot change each other's mode. This module is the
package's only caller of ``localCheckpoint``, ``checkpoint`` and ``persist``.

- ``"local"``: ``localCheckpoint`` — fastest, but the blocks die with their
  executor.
- ``"disk"``: survives executor loss. With ``checkpoint_dir`` (HDFS/object
  store on a cluster) a RELIABLE ``checkpoint``, a true lineage cut, which
  iterative operators need (dup_clusters: a persisted plan keeps its
  lineage, which compounds until Catalyst analysis runs out of memory at
  ~8 rounds). Without a dir, ``persist(DISK_ONLY)``, owned by the
  Materializer until ``release()`` or context exit.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class Materializer:
    def __init__(self, mode: str = "local", checkpoint_dir: str | None = None):
        if mode not in ("local", "disk"):
            raise ValueError("materialize mode must be 'local' or 'disk'")
        self.mode, self.checkpoint_dir = mode, checkpoint_dir
        self.owned: list[DataFrame] = []

    def cut(self, df: DataFrame) -> DataFrame:
        """Cut ``df``'s lineage. Lazy on the local and persist paths: the
        caller's next action computes every partition and materializes the
        cut as a side effect, one job where an eager cut would pay two. The
        reliable checkpoint is eager (it writes the files before returning)."""
        if self.mode == "local":
            return df.localCheckpoint(eager=False)
        if self.checkpoint_dir is None:
            out = df.persist(StorageLevel.DISK_ONLY)
            self.owned.append(out)
            return out
        # the dir is SparkContext-wide: set our own, never use another's
        df.sparkSession.sparkContext.setCheckpointDir(self.checkpoint_dir)
        return df.checkpoint(eager=True)

    def counted(self, df: DataFrame) -> tuple[DataFrame, int]:
        """The cut plus its row count. On the lazy paths the count IS the
        materializing job, so size-adaptive callers (auto_n_blocks, the
        shingle cap's broadcast choice) read a number already paid for."""
        out = self.cut(df)
        return out, out.count()

    def release(self, blocking: bool = False) -> int:
        """Unpersist every DataFrame this Materializer owns; returns how many."""
        n = len(self.owned)
        for df in self.owned:
            df.unpersist(blocking=blocking)
        self.owned.clear()
        return n

    def __enter__(self) -> "Materializer":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False
