"""Incremental corpus curation: the daily-delta form of
`plans/curation.py`, maintained over a snapshot warehouse.

At 100 TB the full curation chain cannot rerun per ingest — the text-
level work (quality scoring, shingling, MinHash signatures, benchmark
decontamination) must touch ONLY the day's delta, while corpus-wide
decisions (near-dup clusters, splits, packing) are recomputed from
small persisted STATE relations, never from the raw text:

* ``<name>__fps``    — one row per distinct canonical text ever seen
  (md5 fingerprint, min doc_id): the exact-dedup memory.
* ``<name>__signed`` — (doc_id, shingle_hashes, minhash) of exact-kept
  quality-passing docs: what :func:`incremental_lsh_pairs` bands the
  delta against.
* ``<name>__pairs``  — verified near-dup pairs accumulated across
  increments (union over increments equals a from-scratch run — the
  incremental-LSH exactness theorem tested in
  tests/test_dedup_similarity.py).
* ``<name>__meta``   — (doc_id, n_tokens, contaminated) for exact-kept
  docs: everything split + packing need, with no text attached.

Each refresh: delta text work → state appends → rebuild of the curated
output from state (connected components over the PAIRS relation — sized
by duplicates, not corpus — then split + packing over META). Because
clusters are recomputed from the full pair set, a new document that
BRIDGES two old clusters correctly retracts the losing old canonical —
the refreshed output is BIT-IDENTICAL to ``curate_documents`` on the
full corpus (asserted in tests), not merely append-consistent.

Contracts: the raw table is append-only (checked against the
manifests), doc ids are monotone across appends (checked; exact/near
dedup keep the MIN id, so older docs must have smaller ids for
increment order not to matter), and the decontamination benchmark is
fixed across refreshes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import bpe_token_count, quality_score
from covid_data_pipeline_spark.operators.decontam import contaminated_ids
from covid_data_pipeline_spark.operators.dedup import (
    incremental_lsh_pairs,
    jaccard_verify,
    lsh_candidate_pairs,
    text_fingerprint,
    with_minhash,
)
from covid_data_pipeline_spark.operators.graph import connected_components
from covid_data_pipeline_spark.operators.sampling import hash_split, pack_greedy_bins
from covid_data_pipeline_spark.plans.curation import CurationConfig
from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse

__all__ = ["IncrementalCurator"]


class IncrementalCurator:
    def __init__(
        self,
        wh: SnapshotWarehouse,
        raw_table: str,
        curated_table: str,
        cfg: CurationConfig = CurationConfig(),
        benchmark: DataFrame | None = None,
    ):
        self.wh = wh
        self.raw = raw_table
        self.out = curated_table
        self.cfg = cfg
        self.benchmark = benchmark
        self.t_fps = f"{curated_table}__fps"
        self.t_signed = f"{curated_table}__signed"
        self.t_pairs = f"{curated_table}__pairs"
        self.t_meta = f"{curated_table}__meta"

    # -- cursor (same manifest-op pattern as sources/matview.py) ----------
    def refreshed_version(self) -> int | None:
        v = self.wh.current_version(self.out)
        if v is None:
            return None
        op = self.wh._manifest(self.out, v)["op"]
        if not op.startswith("curate@"):
            raise ValueError(
                f"{self.out} v{v} was not written by IncrementalCurator "
                f"(op={op!r})"
            )
        return int(op.split("@", 1)[1])

    def read(self) -> DataFrame:
        return self.wh.read(self.out)

    # -- state helpers -----------------------------------------------------
    def _state(self, table: str) -> DataFrame | None:
        return self.wh.read(table) if self.wh.exists(table) else None

    def _state_tables(self) -> list[str]:
        return [self.t_fps, self.t_signed, self.t_pairs, self.t_meta]

    def _state_append(self, df: DataFrame, table: str, cur: int) -> None:
        """State commits are tagged ``state@<raw_version>`` so a crash
        BETWEEN the state appends and the output's ``curate@`` commit is
        detectable (the state op's version runs ahead of the cursor)."""
        if df.isEmpty():
            return
        files = self.wh._write_batch(df, table, None)
        self.wh._commit(
            table, self.wh._alive_files(table) + files, f"state@{cur}"
        )

    def _repair_partial(self, last: int | None) -> None:
        """Undo state appends from a refresh that crashed before its
        output commit: any state table whose latest op is
        ``state@<v>`` with v beyond the cursor is rolled back one
        version (or removed entirely if the crashed refresh created
        it), so the re-run replays the same delta against clean state
        instead of wedging on the id-monotonicity check."""
        import shutil

        for t in self._state_tables():
            v = self.wh.current_version(t)
            if v is None:
                continue
            op = self.wh._manifest(t, v)["op"]
            if not op.startswith("state@"):
                continue
            tagged = int(op.split("@", 1)[1])
            if last is not None and tagged <= last:
                continue
            if v == 1:
                shutil.rmtree(self.wh._table_dir(t))
            else:
                self.wh.rollback(t, v - 1)

    def _assert_append_only(self, last: int, cur: int) -> None:
        for v in range(last + 1, cur + 1):
            op = self.wh._manifest(self.raw, v)["op"]
            if op != "append":
                raise ValueError(
                    f"{self.raw} v{v} op={op!r}: incremental curation "
                    "requires an append-only raw table (a rewrite would "
                    "need full recuration — run a fresh curator)"
                )

    # -- the refresh -------------------------------------------------------
    def refresh(self) -> dict:
        cfg, i, t = self.cfg, self.cfg.id_col, self.cfg.text_col
        cur = self.wh.current_version(self.raw)
        if cur is None:
            raise FileNotFoundError(f"no snapshots for {self.raw}")
        last = self.refreshed_version()
        if last == cur:
            return {"mode": "noop", "raw_version": cur}
        self._repair_partial(last)
        if last is None:
            delta = self.wh.read(self.raw)
            mode = "full"
        else:
            self._assert_append_only(last, cur)
            delta = self.wh.read_incremental(self.raw, last)
            mode = "incremental"
        delta = delta.select(i, t)

        # id monotonicity vs state: MIN-id canonical selection assumes
        # older docs have smaller ids
        meta_state = self._state(self.t_meta)
        if meta_state is not None:
            hi = meta_state.agg(F.max(i)).collect()[0][0]
            lo_new = delta.agg(F.min(i)).collect()[0][0]
            if hi is not None and lo_new is not None and lo_new <= hi:
                raise ValueError(
                    f"delta ids start at {lo_new} but state has ids up to "
                    f"{hi}: doc ids must be monotone across appends"
                )

        # 1. quality gate — delta only
        dq = delta.filter(
            (quality_score(t) >= cfg.min_quality)
            & (bpe_token_count(t) >= cfg.min_tokens)
        )

        # 2. exact dedup — within the delta, then against the fps state
        keyed = dq.withColumn("__fp", text_fingerprint(t))
        reps = keyed.groupBy("__fp").agg(F.min(F.col(i)).alias(i))
        fps_state = self._state(self.t_fps)
        if fps_state is not None:
            reps = reps.join(fps_state.select("__fp"), "__fp", "left_anti")
        kept = reps.join(
            keyed.dropDuplicates([i, "__fp"]).select(i, t, "__fp"),
            ["__fp", i],
        ).select(i, t, "__fp").persist()

        # 3. near-dup — sign the delta, band against the signed state
        signed_delta = with_minhash(
            kept.select(i, t), t, cfg.shingle_k, cfg.num_hashes
        ).select(i, "shingle_hashes", "minhash").persist()
        signed_state = self._state(self.t_signed)
        if signed_state is None:
            cands = lsh_candidate_pairs(
                signed_delta, i, cfg.num_hashes, cfg.bands
            )
            all_signed = signed_delta
        else:
            cands = incremental_lsh_pairs(
                signed_state.select(i, "minhash"),
                signed_delta.select(i, "minhash"),
                id_col=i,
                num_hashes=cfg.num_hashes,
                bands=cfg.bands,
            )
            all_signed = signed_state.unionByName(signed_delta)
        new_pairs = jaccard_verify(
            cands, all_signed, i, cfg.jaccard_threshold
        ).select("id_a", "id_b")

        # 4. decontamination — delta only (fixed benchmark)
        if self.benchmark is not None:
            dirty = contaminated_ids(
                kept.select(i, t), self.benchmark, text_col=t, id_col=i,
                ngram=cfg.decontam_ngram,
            ).withColumn("__dirty", F.lit(True))
            meta_delta = (
                kept.join(dirty, i, "left")
                .select(
                    i,
                    bpe_token_count(t).alias("n_tokens"),
                    F.coalesce(F.col("__dirty"), F.lit(False)).alias(
                        "contaminated"
                    ),
                )
            )
        else:
            meta_delta = kept.select(
                i,
                bpe_token_count(t).alias("n_tokens"),
                F.lit(False).alias("contaminated"),
            )

        # 5. persist state deltas (text never enters a state table);
        #    commits are version-tagged for crash repair (see
        #    _repair_partial) — the output's curate@ commit is what
        #    makes them permanent
        self._state_append(kept.select("__fp", i), self.t_fps, cur)
        self._state_append(signed_delta, self.t_signed, cur)
        self._state_append(new_pairs, self.t_pairs, cur)
        self._state_append(meta_delta, self.t_meta, cur)
        n_new = meta_delta.count()

        # 6. rebuild curated output from STATE relations only:
        #    components over all pairs (sized by duplicates), canonical
        #    keep, then split + packing over meta
        meta_all = self._state(self.t_meta)
        if meta_all is None:
            raise ValueError(
                f"{self.raw} produced no curatable documents — nothing to "
                "commit (raise data quality thresholds?)"
            )
        pairs_all = self._state(self.t_pairs)
        alive = meta_all
        if pairs_all is not None:
            comps = connected_components(pairs_all, src="id_a", dst="id_b")
            drop = comps.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias(i)
            )
            alive = alive.join(drop, i, "left_anti")
        alive = alive.filter(~F.col("contaminated")).select(i, "n_tokens")
        split = hash_split(alive, i, cfg.train_pct, cfg.valid_pct)
        packed = pack_greedy_bins(
            split,
            group_col="split",
            order_col=i,
            size_col="n_tokens",
            budget=cfg.pack_budget_tokens,
        ).select(i, "split", "n_tokens", "bin_id")
        files = self.wh._write_batch(packed, self.out, None)
        v = self.wh._commit(self.out, files, f"curate@{cur}")
        kept.unpersist()
        signed_delta.unpersist()
        return {
            "mode": mode,
            "raw_version": cur,
            "curated_version": v,
            "new_docs": n_new,
        }
