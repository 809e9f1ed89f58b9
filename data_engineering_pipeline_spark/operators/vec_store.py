"""Bucketed hyperplane-LSH vector index store for incremental
embedding near-dup — the embedding subclass of the two-layout store
skeleton in operators/sig_store.py (`_TwoLayoutStore`), which owns the
open-time healing, meta and per-layout modulus stamps, pruned reads,
the probe core, the staged commit with its crash order, compaction
and flat-layout migration. Its two layouts:

  <root>/signed/tbl=T/spfx=NN/app-*.parquet  (__id, sig)     slim
  <root>/vecs/pfx=NN/app-*.parquet           (__id, __v, __n) 1/vector
  <root>/_meta.json                          structural params

- `signed` holds the per-table hyperplane signatures ONCE, WITHOUT the
  vectors (the old flat index shipped dim doubles x n_tables per
  vector through every probe); a batch's probe opens only the
  (tbl, spfx) dirs its own XOR-mask-expanded probe signatures hash
  into.
- `vecs` holds ONE (vector, norm) row per id — a 1/n_tables footprint
  vs the flat index — so the exact cosine verify fetches only the
  candidate ids' prefixes.

commit moves `signed` files BEFORE `vecs` files: a vector row landing
without its signatures would never be probed again, while signatures
without the vector are re-derived on replay (the fresh anti-join is
keyed on `vecs`).

Pair semantics are IDENTICAL to similarity.incremental_embedding_dedup
(same signer, same probe-mask expansion, same orientation/distinct,
same exact-cosine verify expressions) — pinned by the store-vs-flat
parity test in tests/test_vec_store.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sig_store import (
    _Layout,
    _TwoLayoutStore,
)


class VecIndexStore(_TwoLayoutStore):
    _KIND = ("vector index store", "signer params")
    _LAYOUT_VERSION = "vec-banded-v1"
    # signature identity: a store signed under different hyperplanes
    # (dim/bits/n_tables feed the seeded signer) must not be probed
    # incrementally. The prefix MODULI are layout, adopted from disk.
    _STRUCTURAL = ("layout", "dim", "bits", "n_tables")
    _META_KEYS = ("dim", "bits", "n_tables", "spfx", "vpfx")
    _BUCKETS = _Layout("signed", "spfx", "tbl", "sig", "spfx", "n_tables")
    _PAYLOAD = _Layout("vecs", "vpfx")
    _key = "__id"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        bits: int = 12,
        n_tables: int = 6,
        spfx: int = 32,
        vpfx: int = 32,
    ):
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        self.bits = bits
        self.n_tables = n_tables
        self.spfx = spfx
        self.vpfx = vpfx
        super().__init__(spark, root)

    def _payload_cols(self) -> list[str]:
        return ["__id", "__v", "__n"]

    def _bucket_rows(self, df: DataFrame) -> DataFrame:
        return df.select("__id", "tbl", "sig")

    def _payload_rows(self, df: DataFrame) -> DataFrame:
        # index rows repeat the vector once per table: keep table 0's
        return df.filter(F.col("tbl") == 0).select(*self._payload_cols())

    def probe(
        self,
        new_vecs: DataFrame,
        threshold: float = 0.85,
        probe_radius: int = 0,
        scale: int = 4,
        assume_fresh: bool = False,
        max_bucket_size: int | None = None,
        stats: dict | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh_index_rows, dup_pairs) for a batch against the store
        — incremental_embedding_dedup's exact semantics with pruned
        reads. fresh_index_rows carries the embedding_index schema
        (__id, __v, __n, tbl, sig); hand it to commit().

        `max_bucket_size` (off by default — oracle-exact) bounds the
        candidate-verify volume against a degenerate embedding region
        flooding one (tbl, sig) bucket — sig_store.probe's cap, same
        design (see that docstring for the scale argument): each
        STORE-side bucket, judged on the corpus view (store rows in
        touched partitions + fresh rows), is truncated to its
        `max_bucket_size` smallest ids, so candidates are
        <= batch x tables x masks x cap and every flood member still
        collides with the cluster's canonical (lowest-id, i.e.
        surviving) representatives. `stats` also receives
        `cand_pairs`, the volume the cap bounds."""
        from data_engineering_pipeline_spark.operators.similarity import (
            _probe_masks,
            cosine_ratio,
            dot,
            embedding_index,
        )

        new_idx = embedding_index(
            new_vecs, self.id_col, self.vec_col,
            self.dim, self.bits, self.n_tables,
        ).localCheckpoint(eager=False)
        masks = _probe_masks(self.bits, probe_radius)

        def probed(df: DataFrame) -> DataFrame:
            return df.select(
                "__id", "tbl",
                F.explode(F.array(*[F.lit(m) for m in masks])).alias("__m"),
                F.col("sig").alias("__sig0"),
            ).select(
                "__id", "tbl",
                F.col("__sig0").bitwiseXOR(F.col("__m")).alias("sig"),
            )

        def cos_sim(a, b):
            return F.round(
                cosine_ratio(dot(a("__v"), b("__v")), a("__n") * b("__n")),
                scale,
            )

        return self._probe(
            new_idx, probed, cos_sim, "cos_sim", threshold, assume_fresh,
            max_bucket_size, stats,
        )

    def compact(
        self,
        to_spfx: int | None = None,
        to_vpfx: int | None = None,
        auto_grow: bool = False,
    ) -> None:
        """Fold per-batch files to one per dir; optionally migrate the
        prefix moduli in the same rewrite — BandedSignatureStore.compact
        (per-layout _layout.json swapped atomically with each dir; root
        meta rewritten last)."""
        self._compact(to_spfx, to_vpfx, auto_grow)


def open_migrated(
    spark: SparkSession, root: str, **kwargs
) -> VecIndexStore:
    """Open a store at `root`, migrating a FLAT index layout
    (part-files of embedding_index rows directly in the directory —
    streaming/sinks.py's old `_append_parquet` shape) in place."""
    return VecIndexStore(spark, root, **kwargs)._migrate_flat_files()
