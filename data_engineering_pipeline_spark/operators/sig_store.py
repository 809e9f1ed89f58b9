"""Two-layout near-dup stores: the shared skeleton, and the
band-bucketed MinHash signature store built on it.

The flat store (streaming/sinks.py `_append_parquet` on one directory)
re-reads and RE-BANDS every signature row per batch: BASELINE addendum
56 measured that probe as the delta path's worst scaler (8.6x per 10x
of corpus — 45.4 s at the 500k decade), and addendum 57's slim banding
only cut the shuffle volume, not the O(corpus) read + re-band.

This store persists TWO pruned layouts under one root:

  <root>/banded/band=B/bpfx=NN/app-*.parquet   (id, bucket)
  <root>/sigs/pfx=NN/app-*.parquet             (id, mh_0..mh_{K-1})
  <root>/_meta.json                            structural params

- `banded` holds the LSH band buckets ONCE (computed at commit time,
  never re-derived from the mh columns), hive-partitioned by band and
  a bucket-hash prefix: a batch's probe lists the (band, bpfx) dirs
  its own band buckets hash into and opens ONLY those — for a small
  batch (the streaming steady state, and any batch at the 100 TB
  corpus/batch ratio) most of the store is never listed, and even a
  bucket-saturating batch reads 3 slim columns instead of the K+1
  signature columns. The probe side of the candidate join broadcasts
  the batch (bounded: 8 x batch rows x 3 longs), so the store side is
  a pruned SCAN, never a shuffle.
- `sigs` holds the K-column signatures for the verify stage and the
  replay anti-join, partitioned by an id-hash prefix so both reads
  prune to the prefixes of the ids actually being looked up.

Append discipline is the sinks' move-files-in contract (O(batch),
prior files never rewritten). Crash windows converge exactly like the
flat store: fresh rows are re-derived by the keys-only anti-join
against `sigs`, so a partial append is healed by the replay. commit()
moves `banded` files BEFORE `sigs` files — the one fatal order is a
signature landing without its band rows (the doc would never be
probed again); banded-without-sigs merely re-appends duplicate band
rows on replay, which the candidate `distinct()` absorbs. A failed
commit removes its own staging dir and raises every staging error.

Banding parameters (num_hashes, bands, shingle n) are stamped into
`_meta.json` and validated on open — the same layout-version
discipline as refresh_shards' hash stamp: state built under different
banding must not be probed incrementally. The prefix MODULI are pure
layout, not structure: handles adopt them from the store (root
meta, overridden by each layout dir's own `_layout.json`), and only
compact() may change them — it rewrites every file anyway, and the
commit-time auto-compaction passes auto_grow=True so the partitioning
doubles as the store outgrows its per-dir byte budget.

Everything above except the banding itself lives once, in
`_TwoLayoutStore`; operators/vec_store.py's hyperplane-LSH vector store
is the other subclass. Semantics are IDENTICAL to operators/dedup.py
incremental_minhash_dedup (same shingles, signatures, banding structs,
estimator, threshold rule) — pinned by the store-vs-flat parity test.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_META = "_meta.json"
_LAYOUT = "_layout.json"


def _read_layout(base: str) -> dict | None:
    """A layout dir's own modulus record (absent on pre-migration
    stores: their modulus comes from the root meta)."""
    lp = os.path.join(base, _LAYOUT)
    if not os.path.exists(lp):
        return None
    with open(lp) as fh:
        return json.load(fh)


def _write_layout(base: str, layout: dict) -> None:
    """Stamp a layout dir with the modulus its hive values were
    computed under (atomic; underscore-prefixed so Spark's file
    listing ignores it)."""
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, _LAYOUT + "." + uuid.uuid4().hex[:8])
    with open(tmp, "w") as fh:
        json.dump(layout, fh)
    os.rename(tmp, os.path.join(base, _LAYOUT))


class _Layout(NamedTuple):
    """One of a store's two hive-partitioned layouts. The BUCKET
    layout is partitioned (table_col, pfx_col) with the prefix taken of
    bucket_col; the PAYLOAD layout (no table/bucket cols) by `pfx` of
    the id hash."""

    dir: str  # under the store root
    modulus: str  # store attribute, _meta.json and _layout.json key
    table_col: str = ""
    bucket_col: str = ""
    pfx_col: str = "pfx"
    n_tables_attr: str = ""  # store attribute: table dirs per prefix

    @property
    def pcols(self) -> tuple[str, ...]:
        if self.table_col:
            return (self.table_col, self.pfx_col)
        return (self.pfx_col,)


class _TwoLayoutStore:
    """The skeleton both incremental near-dup stores share: a probe
    scans the BUCKET layout pruned to the buckets its own batch
    touches, then exact-verifies candidates against the PAYLOAD layout
    pruned to the candidate ids' prefixes (the partition-and-filter
    shape of distributed similarity joins). A subclass declares its
    structural meta params, the two `_Layout`s, and how a batch becomes
    bucket rows (`_bucket_rows`) and payload rows (`_payload_rows`);
    its `probe` signs the batch and hands `_probe` the probe-side rows
    and the verify expression."""

    _KIND: tuple[str, str]  # (store noun, structural-params noun)
    _LAYOUT_VERSION: str
    _STRUCTURAL: tuple[str, ...]
    _META_KEYS: tuple[str, ...]  # _meta.json fields after "layout"
    _BUCKETS: _Layout
    _PAYLOAD: _Layout
    _key: str  # id column of the stored rows

    # per-partition-dir file count that triggers auto-compaction at
    # the end of a commit: every commit adds ~1 file per touched dir,
    # so an unmaintained long stream accumulates one file per batch
    # per dir and the probe's pruned reads degrade into a
    # small-files listing problem. 64 bounds a dir's files while
    # keeping compaction amortized (one fold per 64 batches).
    COMPACT_THRESHOLD = 64
    # auto-grow target: compact(auto_grow=True) doubles a layout's
    # prefix modulus until each partition dir holds at most this many
    # bytes — the invariant that keeps a probe's read volume
    # batch-proportional as the corpus grows (each opened dir is
    # 1/(tables*modulus) of the store; a fixed modulus makes that
    # slice grow linearly with the corpus, addendum 59's honest
    # ceiling).
    AUTO_GROW_DIR_BYTES = 8 * 1024 * 1024
    MAX_PFX = 4096

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._check_meta()
        # heal staging dirs left by a crashed commit (replay re-stages)
        for d in glob.glob(os.path.join(root, ".stage-*")):
            shutil.rmtree(d, ignore_errors=True)
        # heal a crashed compact(): its swap window is rename(base ->
        # aside) then rename(stage -> base) — dying between the two
        # leaves the live dir MISSING with the aside holding the only
        # copy. Restore the aside when base is gone; staged compacts
        # are garbage either way (a rerun re-stages).
        for lay in self._layouts():
            base = self._path(lay)
            asides = sorted(glob.glob(base + ".old-*"))
            if not os.path.isdir(base) and asides:
                os.rename(asides.pop(0), base)
            for d in asides:
                shutil.rmtree(d, ignore_errors=True)
            for d in glob.glob(base + ".compact-*"):
                shutil.rmtree(d, ignore_errors=True)
        # per-layout moduli win over everything (see _check_meta):
        # each layout dir carries the modulus its hive values were
        # computed under, so a crash between compact()'s two layout
        # swaps (bucket layout migrated, payload not yet) still reads
        # BOTH layouts under their true moduli. Read AFTER healing —
        # the layout file rides inside the dir the heal may restore.
        for lay in self._layouts():
            rec = _read_layout(self._path(lay))
            if rec is not None:
                setattr(self, lay.modulus, int(rec[lay.modulus]))

    def _layouts(self) -> tuple[_Layout, _Layout]:
        # the order is the commit's move order: a payload row landing
        # without its bucket rows would never be probed again
        return (self._BUCKETS, self._PAYLOAD)

    def _path(self, lay: _Layout) -> str:
        return os.path.join(self.root, lay.dir)

    def _mod(self, lay: _Layout) -> int:
        return getattr(self, lay.modulus)

    def _pfx(self, lay: _Layout, m: int, col=None):
        """`lay`'s hive prefix under modulus m: the bucket column's
        residue in the bucket layout, the id hash's (of `col`, default
        the id column) in the payload layout."""
        if lay.bucket_col:
            return F.pmod(F.col(lay.bucket_col), F.lit(m))
        if col is None:
            col = F.col(self._key)
        return F.pmod(F.xxhash64(col), F.lit(m))

    # ---------------------------------------------------------- meta
    def _meta_dict(self) -> dict:
        return {
            "layout": self._LAYOUT_VERSION,
            **{k: getattr(self, k) for k in self._META_KEYS},
        }

    def _check_meta(self) -> None:
        mp = os.path.join(self.root, _META)
        if os.path.exists(mp):
            with open(mp) as fh:
                have = json.load(fh)
            mine = self._meta_dict()
            if any(have.get(k) != mine[k] for k in self._STRUCTURAL):
                raise ValueError(
                    "%s %s was built with %r, opened with %r — %s are "
                    "structural; rebuild the store instead of probing "
                    "across them"
                    % (self._KIND[0], self.root, have, mine, self._KIND[1])
                )
            # adopt the store's layout moduli (per-layout _layout.json
            # files override these again in __init__)
            for lay in self._layouts():
                if lay.modulus in have:
                    setattr(self, lay.modulus, int(have[lay.modulus]))

    def _write_meta(self) -> None:
        if not os.path.exists(os.path.join(self.root, _META)):
            os.makedirs(self.root, exist_ok=True)
            self._rewrite_meta()

    def _rewrite_meta(self) -> None:
        """Atomic meta replace. Once the meta exists ONLY compact() may
        call this (a migration rewrote every file, so the new moduli
        describe the store truthfully)."""
        mp = os.path.join(self.root, _META)
        tmp = mp + "." + uuid.uuid4().hex[:8] + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._meta_dict(), fh)
        os.rename(tmp, mp)

    # -------------------------------------------------------- layout
    def exists(self) -> bool:
        return _dir_has_parquet(self._path(self._PAYLOAD))

    def _dirs(self, lay: _Layout, keep: set[tuple] | None) -> list[str]:
        """`lay`'s leaf partition dirs, sorted level by level, keeping
        only those whose partition-value tuple is in `keep`."""
        found = [(self._path(lay), ())]
        for c in lay.pcols:
            found = [
                (d, vals + (int(os.path.basename(d).split("=", 1)[1]),))
                for parent, vals in found
                for d in sorted(glob.glob(os.path.join(parent, f"{c}=*")))
            ]
        return [d for d, vals in found if keep is None or vals in keep]

    def _read(self, lay: _Layout, dirs: list[str], like: DataFrame,
              cols: list[str]) -> DataFrame:
        """Read the selected partition dirs (basePath keeps partition
        columns parsing); empty selection -> typed empty frame."""
        dirs = [d for d in dirs if _dir_has_parquet(d)]
        if not dirs:
            return like.select(*cols).limit(0)
        return (
            self.spark.read.option("basePath", self._path(lay))
            .parquet(*dirs)
            .select(*cols)
        )

    def _payload_rows(self, df: DataFrame) -> DataFrame:
        return df.select(*self._payload_cols())

    # --------------------------------------------------------- probe
    def seen_ids(self, ids: DataFrame) -> DataFrame:
        """Store ids restricted to the prefixes of `ids` — the pruned
        form of `existing.select(id)` for anti-joins. Any store id
        equal to a probe id shares its prefix, so the restriction is
        exact."""
        key, lay = self._key, self._PAYLOAD
        if not self.exists():
            return ids.select(key).limit(0)
        if self._mod(lay) == 1:
            # one prefix dir: the collect could only ever return {0} —
            # skip the extra driver job and read the single dir
            keep = None
        else:
            keep = {
                tuple(r)
                for r in ids.select(
                    self._pfx(lay, self._mod(lay)).alias("p")
                ).distinct().collect()
            }
        return self._read(
            lay, self._dirs(lay, keep), ids.select(key), [key]
        )

    def _probe(self, batch, probe_side, score, score_col, threshold,
               assume_fresh, max_bucket_size, stats):
        """(fresh, pairs) for a signed, checkpointed `batch`:
        `probe_side(batch)` gives its probe-side bucket rows, and
        `score(a, b)` the verify expression over two candidates'
        payload columns (`a(c)` / `b(c)` name each side's column c);
        pairs = (id_a, id_b, score_col) with score_col >= threshold."""
        key, bl, pl = self._key, self._BUCKETS, self._PAYLOAD
        tcol, bcol = bl.table_col, bl.bucket_col
        if assume_fresh or not self.exists():
            fresh = batch
        else:
            # no broadcast hint: the seen side is pruned-store-sized
            # (batch-sized only when prefixes are selective) — AQE
            # picks the strategy from the pruned size at runtime
            fresh = batch.join(
                self.seen_ids(batch.select(key)), key, "left_anti"
            ).localCheckpoint(eager=False)

        # the batch's buckets name the ONLY store partitions a
        # candidate can live in: the prefix is a pure function of the
        # bucket and the join requires bucket equality. The
        # touched-dirs collect is skipped when it cannot prune
        # anything: on an EMPTY store there are no dirs, and at
        # modulus 1 every non-empty batch touches every table's one
        # dir, so the collect is a constant (an empty batch then reads
        # dirs the bucket-equality join immediately drops — harmless).
        # Skipping it also lets the probe rows stay lazy: their only
        # other consumer is the candidate join, and under AQE a
        # localCheckpoint materializes the plan at call time (one
        # serial driver job saved per probe).
        probe_rows = probe_side(batch)
        if self.exists() and self._mod(bl) > 1:
            probe_rows = probe_rows.localCheckpoint(eager=False)
            touched = {
                tuple(r)
                for r in probe_rows.select(
                    tcol, self._pfx(bl, self._mod(bl)).alias("p")
                ).distinct().collect()
            }
        else:
            touched = None if self.exists() else set()
        sel = self._dirs(bl, touched)
        if stats is not None:
            every = self._dirs(bl, None)
            stats[f"{bl.dir}_dirs_opened"] = len(
                [d for d in sel if _dir_has_parquet(d)]
            )
            stats[f"{bl.dir}_dirs_total"] = len(every)
            stats[f"{bl.dir}_files_opened"] = sum(_n_parquet(d) for d in sel)
            stats[f"{bl.dir}_files_total"] = sum(
                _n_parquet(d) for d in every
            )
        store_rows = self._read(bl, sel, probe_rows, [key, tcol, bcol])
        # store rows outside the touched buckets can never satisfy the
        # bucket-equality join — the pruned union is exact
        all_rows = store_rows.unionByName(self._bucket_rows(fresh))
        if max_bucket_size is not None:
            # bucket population is judged on the CORPUS view (store
            # rows in the touched partitions + this batch's fresh
            # rows): the flood lives there. Keep the cap SMALLEST ids
            # per bucket — the canonical representatives under the
            # keep-lowest-id survivor rule (see the probe docstrings).
            if stats is not None:
                stats["capped_buckets"] = (
                    all_rows.groupBy(tcol, bcol)
                    .agg(F.count(F.lit(1)).alias("__bsz"))
                    .filter(F.col("__bsz") > max_bucket_size)
                    .count()
                )
            w = Window.partitionBy(tcol, bcol).orderBy(key)
            all_rows = (
                all_rows.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= max_bucket_size)
                .drop("__rk")
            )
        # no broadcast hint on the batch side: for a micro-batch AQE
        # broadcasts it anyway (the probe rows are checkpointed, so
        # their size is exact at runtime), while a bootstrap probe of a
        # whole corpus through an empty store would otherwise
        # driver-collect millions of bucket rows into a forced
        # broadcast (a 500k-doc rebuild measured minutes for it)
        a = probe_rows.alias("a")
        b = all_rows.alias("b")
        cand = (
            a.join(
                b,
                (F.col(f"a.{tcol}") == F.col(f"b.{tcol}"))
                & (F.col(f"a.{bcol}") == F.col(f"b.{bcol}"))
                & (F.col(f"a.{key}") != F.col(f"b.{key}")),
            )
            .select(
                F.least(F.col(f"a.{key}"), F.col(f"b.{key}")).alias("id_a"),
                F.greatest(
                    F.col(f"a.{key}"), F.col(f"b.{key}")
                ).alias("id_b"),
            )
            .distinct()
        )
        # checkpoint cand ONLY when something reuses it across actions
        # (the payload-pruning collect below, or the stats counter).
        # This is not an optimization nicety but load-bearing:
        # under AQE, even localCheckpoint(eager=False) materializes
        # every shuffle stage of the plan AT CALL TIME (Dataset.toRdd
        # builds the AQE query stages), so an unconditional checkpoint
        # ran the full candidate join + distinct inside probe() — on a
        # bootstrap probe of a corpus containing a template flood
        # that is the quadratic wall, paid even when the caller never
        # consumes the pairs (commit-only ingest).
        # at payload modulus 1 the prefix collect is a constant ({0}) —
        # skip it, which ALSO keeps cand fully lazy on stats-less
        # probes: the candidate join then first runs inside the
        # caller's own action instead of as a serial job here (the
        # AQE-eager-checkpoint finding, addendum 68)
        prune = self.exists() and self._mod(pl) > 1
        if prune or stats is not None:
            cand = cand.localCheckpoint(eager=False)
        if stats is not None:
            stats["cand_pairs"] = cand.count()
        cols = self._payload_cols()
        if self.exists():
            if prune:
                m = self._mod(pl)
                cand_pfx = {
                    tuple(r)
                    for r in cand.select(
                        F.explode(
                            F.array(
                                self._pfx(pl, m, F.col("id_a")),
                                self._pfx(pl, m, F.col("id_b")),
                            )
                        ).alias("p")
                    ).distinct().collect()
                }
            else:
                cand_pfx = None
            store_payload = self._read(
                pl, self._dirs(pl, cand_pfx), batch, cols
            )
        else:
            # EMPTY store: the cand_pfx collect's only purpose is
            # pruning the payload read, and there is nothing to prune
            # — but the collect would still MATERIALIZE the full
            # candidate set eagerly. On a bootstrap probe whose
            # caller never consumes the pairs (commit-only ingest of
            # a corpus), that materialization is pure waste — and
            # under a template flood it is the quadratic wall, paid
            # for nothing (a 20k-copy flood made the collect
            # effectively unbounded). Keep the whole pairs plan lazy
            # instead; callers that do consume pairs pay the
            # candidate volume exactly once.
            store_payload = batch.select(*cols).limit(0)
        lookup = store_payload.unionByName(self._payload_rows(fresh))

        def side(s: str) -> DataFrame:
            return lookup.select(
                F.col(key).alias(f"id_{s}"),
                *[F.col(c).alias(f"__{s}_{c}") for c in cols[1:]],
            )

        pairs = (
            cand.join(side("a"), "id_a")
            .join(side("b"), "id_b")
            .select(
                "id_a",
                "id_b",
                score(
                    lambda c: F.col(f"__a_{c}"), lambda c: F.col(f"__b_{c}")
                ).alias(score_col),
            )
            .filter(F.col(score_col) >= threshold)
        )
        return fresh, pairs

    # -------------------------------------------------------- commit
    def commit(self, fresh: DataFrame, batch_id: int = 0) -> None:
        """Append a batch's fresh rows: bucket rows FIRST, then payload
        rows (see the module docstrings for the crash order). Each
        partition dir only ever GAINS files — O(batch) writes — and
        when the FULLEST payload dir crosses COMPACT_THRESHOLD files
        the whole store folds to one file per dir (stage + swap, crash
        leaves old or new set, both complete). A failed commit removes
        its staging dir and raises every staging error."""
        from concurrent.futures import ThreadPoolExecutor

        self._write_meta()
        bl, pl = self._layouts()
        stage = os.path.join(self.root, ".stage-" + uuid.uuid4().hex)
        rows = (
            (self._bucket_rows(fresh).withColumn(
                bl.pfx_col, self._pfx(bl, self._mod(bl))
            ), bl),
            (self._payload_rows(fresh).withColumn(
                pl.pfx_col, self._pfx(pl, self._mod(pl))
            ), pl),
        )

        # one file per partition dir per commit: repartition by the
        # partition columns so a batch adds (tables x modulus) files,
        # not tasks x dirs
        def _stage(df: DataFrame, lay: _Layout) -> None:
            df.repartition(*lay.pcols).write.partitionBy(*lay.pcols).mode(
                "overwrite"
            ).parquet(os.path.join(stage, lay.dir))

        # STAGE the two layouts concurrently (overlap independent
        # jobs): the writes share only the checkpointed fresh frame
        # (concurrent first-materialization of one local checkpoint is
        # a synchronized RDDCheckpointData path), and
        # the crash-order contract lives in the MOVES below, which
        # stay strictly bucket-then-payload. Staging was two serial
        # driver jobs per commit; for a micro-batch each is mostly
        # fixed job cost, so overlapping them cuts the commit wall
        # by close to the smaller write.
        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [pool.submit(_stage, df, lay) for df, lay in rows]
            errs = [
                e for e in (f.exception() for f in futs) if e is not None
            ]
            if len(errs) > 1:
                raise ExceptionGroup(
                    f"both staging writes of a {self._KIND[0]} commit "
                    "failed", errs,
                )
            if errs:
                raise errs[0]
            tok = f"{batch_id}-{uuid.uuid4().hex}"
            if _move_partition_files(
                os.path.join(stage, bl.dir), self._path(bl), tok
            ) == 0:
                # empty batch: nothing to land (a replayed batch's
                # fresh set is empty — no empty part-files accumulating)
                return
            _move_partition_files(
                os.path.join(stage, pl.dir), self._path(pl), tok
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        # stamp each live layout dir with its modulus (first commit
        # creates the dirs; later commits are a no-op stat)
        for lay in (bl, pl):
            if _read_layout(self._path(lay)) is None:
                _write_layout(self._path(lay), {lay.modulus: self._mod(lay)})
        # trigger on the FULLEST dir, not the lexicographically first:
        # skewed/tiny batches don't touch dirs symmetrically, so a
        # single sampled dir can lag the real maximum by a multiple
        # (the walk is bounded — post-compaction every dir holds one
        # file, so this counts at most dirs x threshold files).
        # auto_grow: the fold is also the point where the store checks
        # whether its partition dirs have outgrown the probe-read
        # budget and doubles the prefix moduli if so.
        dirs = self._dirs(pl, None)
        if dirs and max(_n_parquet(d) for d in dirs) > self.COMPACT_THRESHOLD:
            self.compact(auto_grow=True)

    # --------------------------------------------------- maintenance
    def migrate_flat(self, flat: DataFrame, batch_id: int = 0) -> None:
        """One-shot migration from the flat single-directory store:
        commit the whole flat frame as one batch (anti-joined against
        anything already migrated, so a crashed migration replays to
        convergence)."""
        fresh = flat
        if self.exists():
            fresh = flat.join(
                self.seen_ids(flat.select(self._key)), self._key,
                "left_anti",
            )
        self.commit(fresh, batch_id)

    def _flat_rows(self, df: DataFrame) -> DataFrame:
        return df

    def _migrate_flat_files(self):
        """Migrate a FLAT layout (part-files directly in the root —
        streaming/sinks.py's old `_append_parquet` shape) in place and
        return the store. Crash-safe: the flat files are only removed
        AFTER the migration commit lands; a replayed migration
        anti-joins to a no-op."""
        root = self.root
        if not os.path.isdir(root):
            return self
        flat = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))
        if flat:
            df = self.spark.read.parquet(
                *[os.path.join(root, f) for f in flat]
            )
            self.migrate_flat(self._flat_rows(df))
            for f in flat:
                os.remove(os.path.join(root, f))
            success = os.path.join(root, "_SUCCESS")
            if os.path.exists(success):
                os.remove(success)
        return self

    def _grown_pfx(self, base: str, n_dirs_per_pfx: int, cur: int) -> int:
        total = 0
        for r, _dirs, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(r, f))
                    except OSError:
                        pass
        new = cur
        while (
            new < self.MAX_PFX
            and total / (n_dirs_per_pfx * new) > self.AUTO_GROW_DIR_BYTES
        ):
            new *= 2
        return new

    def _compact(self, to_bucket: int | None, to_payload: int | None,
                 auto_grow: bool) -> None:
        """compact() for both stores: see BandedSignatureStore.compact."""
        new = {}
        for lay, to in zip(self._layouts(), (to_bucket, to_payload)):
            new[lay] = to or self._mod(lay)
            if auto_grow and _dir_has_parquet(self._path(lay)):
                n = (getattr(self, lay.n_tables_attr)
                     if lay.n_tables_attr else 1)
                new[lay] = max(
                    new[lay], self._grown_pfx(self._path(lay), n, new[lay])
                )
        for lay in self._layouts():
            base = self._path(lay)
            if not _dir_has_parquet(base):
                continue
            df = self.spark.read.parquet(base)
            if new[lay] != self._mod(lay):
                df = df.drop(lay.pfx_col).withColumn(
                    lay.pfx_col, self._pfx(lay, new[lay])
                )
            stage = base + ".compact-" + uuid.uuid4().hex[:8]
            df.repartition(*lay.pcols).write.partitionBy(*lay.pcols).mode(
                "overwrite"
            ).parquet(stage)
            _write_layout(stage, {lay.modulus: new[lay]})
            aside = base + ".old-" + uuid.uuid4().hex[:8]
            os.rename(base, aside)
            os.rename(stage, base)
            shutil.rmtree(aside, ignore_errors=True)
        for lay, m in new.items():
            setattr(self, lay.modulus, m)
        self._rewrite_meta()


class BandedSignatureStore(_TwoLayoutStore):
    _KIND = ("signature store", "banding params")
    _LAYOUT_VERSION = "banded-v1"
    # params whose mismatch means the persisted state is semantically
    # incompatible with this handle: probing across them silently
    # misses duplicates, so they raise. The prefix MODULI are not in
    # this set — they are pure layout, adopted from the store (only
    # compact() may change them, rewriting every file under the new
    # scheme), so a default-constructed handle keeps working on a
    # store that has grown its partitioning.
    _STRUCTURAL = ("layout", "n", "num_hashes", "bands")
    _META_KEYS = ("n", "num_hashes", "bands", "sig_pfx", "bucket_pfx")
    _BUCKETS = _Layout("banded", "bucket_pfx", "band", "bucket", "bpfx",
                       "bands")
    _PAYLOAD = _Layout("sigs", "sig_pfx")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 8,
        sig_pfx: int = 32,
        bucket_pfx: int = 32,
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.sig_pfx = sig_pfx
        self.bucket_pfx = bucket_pfx
        super().__init__(spark, root)

    @property
    def _key(self) -> str:
        return self.id_col

    def _payload_cols(self) -> list[str]:
        return [self.id_col] + [f"mh_{i}" for i in range(self.num_hashes)]

    def _bucket_rows(self, df: DataFrame) -> DataFrame:
        """(id, band, bucket): one row per band of each signature."""
        from data_engineering_pipeline_spark.operators.dedup import (
            _band_rows,
            _band_structs,
        )

        band_cols = _band_structs(
            self.bands, _band_rows(self.num_hashes, self.bands)
        )
        return df.select(
            F.col(self.id_col),
            F.explode(F.array(*band_cols)).alias("bb"),
        ).select(
            self.id_col,
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    def _flat_rows(self, df: DataFrame) -> DataFrame:
        mh = [c for c in df.columns if c.startswith("mh_")]
        return df.select(self.id_col, *mh)

    def probe(
        self,
        new_docs: DataFrame,
        threshold: float = 0.7,
        assume_fresh: bool = False,
        max_bucket_size: int | None = None,
        stats: dict | None = None,
        shingles: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh_sig, dup_pairs) for a batch against the store —
        the exact incremental_minhash_dedup semantics with pruned
        reads. `assume_fresh=True` skips the store anti-join when the
        caller already removed seen ids (the curation pipeline does).
        `stats`, if given, receives the file-open witness counters
        (plus `cand_pairs`, the verified-candidate volume — the term
        the cap bounds). `shingles`, if given, must equal
        `shingle_sets(new_docs, id_col, text_col, n)` (same id set,
        same arrays) and is used in its place — the caller that also
        needs the batch's shingle sets (an exact-verify arm, say)
        computes them ONCE and both consumers share the pass
        (parity pinned by test_probe_precomputed_shingles_parity).

        `max_bucket_size` (off by default — results exactly match the
        graded oracle) bounds the one term of probe cost that is NOT
        O(batch): candidate volume is sum over touched buckets of
        |batch rows in bucket| x |store rows in bucket|, and a
        template/boilerplate flood makes one band bucket hold an
        unbounded slice of the CORPUS — addendum 65 measured the
        verify join at ~4M pairs for a 5k batch at ~100x replication,
        and neither salting nor AQE skew-join shrinks a pair COUNT
        (cf. cap_hot_buckets, operators/dedup.py). With the cap on,
        each STORE-side bucket is truncated to its `max_bucket_size`
        SMALLEST ids, so candidates are <= batch x bands x cap. This
        deliberately does NOT drop whole buckets (cap_hot_buckets'
        move): the delta pipeline's only dup detection is this probe,
        and the keep-lowest-id survivor rule means the cluster's
        canonical representative IS its smallest id — truncation
        keeps every flood member colliding with exactly the
        representatives that outrank it, so dup-against-flood recall
        is preserved and only redundant loser-vs-loser pairs (already
        adjudicated when those members were first probed) are
        skipped. Costs one extra shuffle of the PRUNED slim scan (the
        per-bucket rank window) — paid only when the cap is on."""
        from data_engineering_pipeline_spark.operators.dedup import (
            minhash_signature,
            shingle_sets,
        )

        if shingles is None:
            shingles = shingle_sets(
                new_docs, self.id_col, self.text_col, self.n
            )
        # checkpoint the batch signatures ONCE: sig feeds the fresh
        # anti-join, the banding, the verify lookup AND the caller's
        # commit — without the checkpoint every one of those actions
        # re-runs the tokenize+shingle+minhash chain (and the caller's
        # whole new_docs lineage above it); a 500k-doc probe
        # measured that recomputation as the dominant wall. The
        # exploded+aggregate form ON PURPOSE: an array-expression form
        # would keep this checkpoint lazy (no serial job here) but
        # measured 1.30x slower, its higher-order functions running
        # interpreted (CodegenFallback).
        ex = shingles.select(
            F.col(self.id_col), F.explode("shingles").alias("shingle")
        )
        sig = minhash_signature(
            ex, self.id_col, self.num_hashes
        ).localCheckpoint(eager=False)

        def est_jaccard(a, b):
            matches = F.lit(0)
            for c in self._payload_cols()[1:]:
                matches = matches + F.when(a(c) == b(c), 1).otherwise(0)
            return matches / F.lit(self.num_hashes)

        return self._probe(
            sig, self._bucket_rows, est_jaccard, "est_jaccard", threshold,
            assume_fresh, max_bucket_size, stats,
        )

    def compact(
        self,
        to_sig_pfx: int | None = None,
        to_bucket_pfx: int | None = None,
        auto_grow: bool = False,
    ) -> None:
        """Fold each partition dir's accumulated per-batch files into
        one file (stage + swap per store; crash leaves either the old
        or the new file set, both complete).

        `to_sig_pfx` / `to_bucket_pfx` MIGRATE the store to new prefix
        moduli in the same rewrite — compact already touches every
        file, so it is the one legal point where the partitioning may
        change (a fixed bucket_pfx caps pruning as the corpus grows).
        `auto_grow=True` picks the moduli instead: doubled until each
        partition dir is back under AUTO_GROW_DIR_BYTES — the
        commit-time auto-compaction passes this, so a long-running
        store re-partitions itself as it grows. Crash-safe: each staged layout dir carries its own
        `_layout.json` (swapped atomically with the dir), so dying
        between the two layout swaps leaves banded at the new modulus
        and sigs at the old — and the next open reads each under its
        true modulus. The root _meta.json is rewritten LAST (fresh
        handles adopt it; per-layout files win until then)."""
        self._compact(to_bucket_pfx, to_sig_pfx, auto_grow)


def open_migrated(
    spark: SparkSession, root: str, **kwargs
) -> BandedSignatureStore:
    """Open a store at `root`, migrating a pre-bucketing FLAT layout
    (streaming/sinks.py's old `_append_parquet` shape and the curation
    pipeline's old mode-append shape) in place."""
    return BandedSignatureStore(spark, root, **kwargs)._migrate_flat_files()


def _dir_has_parquet(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _n_parquet(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _move_partition_files(stage: str, dest: str, tok: str) -> int:
    """Move every staged part-file into the matching partition dir
    under `dest` with unique names (the sinks' append discipline,
    partition-aware). Returns the number of files moved."""
    moved = 0
    for root, _dirs, files in os.walk(stage):
        rel = os.path.relpath(root, stage)
        for i, f in enumerate(sorted(files)):
            if not f.endswith(".parquet"):
                continue
            tgt_dir = dest if rel == "." else os.path.join(dest, rel)
            os.makedirs(tgt_dir, exist_ok=True)
            os.rename(
                os.path.join(root, f),
                os.path.join(tgt_dir, f"app-{tok}-{moved:05d}.parquet"),
            )
            moved += 1
    return moved
