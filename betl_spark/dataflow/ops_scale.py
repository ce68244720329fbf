"""Scale-operator verbs on the DataFlow API.

The reference's users drive everything through DataFlow verbs
(betl/dataflow/DataFlowClass.py:4-46); the beyond-reference corpus
operators (operators/dedup.py, text.py, sampling.py, corpus.py) get the
same treatment here so a betl app can call them without leaving the
dataflow vocabulary — journaled, dataset-in/dataset-out, camelCase.
Each verb is a thin delegate: the operator modules stay the canonical
implementations (and the contract queries keep testing those directly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


class ScaleOps:
    def dedupeNear(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        targetDataset: str | None = None,
        nHashes: int = 16,
        bands: int = 4,
        minEstJaccard: float = 0.5,
        desc: str = "",
    ) -> DataFrame:
        """MinHash-LSH near-duplicate pairs for a dataset
        (operators/dedup.py:minhash_near_dups). Output dataset holds
        (id_a, id_b, est_jaccard)."""
        from betl_spark.operators import dedup

        with self.journal.step("dedupeNear", desc or f"near-dup pairs {dataset}"):
            out = dedup.minhash_near_dups(
                self._get(dataset), idCol, textCol,
                n_hashes=nHashes, bands=bands, min_est_jaccard=minEstJaccard,
            )
            self.data[targetDataset or f"{dataset}_near_dups"] = out
        return out

    def removeNearDuplicates(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        targetDataset: str | None = None,
        nHashes: int = 16,
        bands: int = 4,
        minEstJaccard: float = 0.5,
        desc: str = "",
    ) -> DataFrame:
        """End-to-end near-dup removal: LSH pairs → connected
        components → keep each cluster's minimum-id row plus all
        unpaired rows. The flow behind the ``near_dup_removal``
        contract query, as one verb."""
        from betl_spark.operators import dedup

        with self.journal.step(
            "removeNearDuplicates", desc or f"remove near-dups {dataset}"
        ):
            df = self._get(dataset)
            pairs = dedup.minhash_near_dups(
                df, idCol, textCol,
                n_hashes=nHashes, bands=bands, min_est_jaccard=minEstJaccard,
            )
            clusters = dedup.duplicate_clusters(
                pairs.select("id_a", "id_b"),
                # minhash_near_dups ends in groupBy(id_a, id_b): unique
                edges_unique=True,
            )
            out = (
                df.join(clusters, df[idCol] == clusters["node"], "left")
                .filter(
                    F.col("cluster_id").isNull()
                    | (F.col(idCol) == F.col("cluster_id"))
                )
                .drop("node", "cluster_id")
            )
            self.data[targetDataset or dataset] = out
        return out

    def langId(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Language-ID features (operators/text.py:lang_id): output
        dataset holds (id, lang_pred, lang_hits)."""
        from betl_spark.operators import text

        with self.journal.step("langId", desc or f"langId {dataset}"):
            out = text.lang_id(self._get(dataset), idCol, textCol)
            self.data[targetDataset or f"{dataset}_lang"] = out
        return out

    def qualityFilter(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        targetDataset: str | None = None,
        keepOnly: bool = False,
        desc: str = "",
        **rules,
    ) -> DataFrame:
        """Gopher-style rule features (operators/text.py:quality_filter);
        ``keepOnly=True`` filters the ORIGINAL dataset down to rows the
        rules keep (the curation step), otherwise the feature frame is
        stored for auditing."""
        from betl_spark.operators import text

        with self.journal.step("qualityFilter", desc or f"qualityFilter {dataset}"):
            df = self._get(dataset)
            feats = text.quality_filter(df, idCol, textCol, **rules)
            if keepOnly:
                keep_ids = feats.filter(F.col("keep")).select(
                    F.col(idCol).alias("__qf_id")
                )
                out = df.join(
                    keep_ids, df[idCol] == F.col("__qf_id"), "left_semi"
                )
            else:
                out = feats
            self.data[targetDataset or (dataset if keepOnly else f"{dataset}_quality")] = out
        return out

    def sampleHash(
        self,
        dataset: str,
        keyCol: str,
        fraction: float,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Deterministic key-hash sampling (operators/sampling.py) —
        reproducible and join-stable, unlike df.sample()."""
        from betl_spark.operators import sampling

        with self.journal.step("sampleHash", desc or f"sampleHash {dataset}"):
            out = sampling.hash_sample(self._get(dataset), keyCol, fraction)
            self.data[targetDataset or dataset] = out
        return out

    def splitTrainValTest(
        self,
        dataset: str,
        keyCol: str,
        valPct: int = 10,
        testPct: int = 10,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Stable train/val/test assignment from the key hash
        (operators/sampling.py:deterministic_split)."""
        from betl_spark.operators import sampling

        with self.journal.step("splitTrainValTest", desc or f"split {dataset}"):
            out = sampling.deterministic_split(
                self._get(dataset), keyCol, valPct, testPct
            )
            self.data[targetDataset or dataset] = out
        return out

    def packSequences(
        self,
        dataset: str,
        idCol: str,
        tokenCountCol: str,
        budget: int,
        targetDataset: str | None = None,
        nShards: int = 256,
        desc: str = "",
    ) -> DataFrame:
        """Shard-local concat-and-chunk packing
        (operators/corpus.py:pack_sequences)."""
        from betl_spark.operators import corpus

        with self.journal.step("packSequences", desc or f"packSequences {dataset}"):
            out = corpus.pack_sequences(
                self._get(dataset), idCol, tokenCountCol, budget, nShards
            )
            self.data[targetDataset or dataset] = out
        return out

    def mixtureSample(
        self,
        dataset: str,
        keyCol: str,
        stratumCol: str,
        weights: dict[str, float],
        targetDataset: str | None = None,
        weightCol: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Rebalance a dataset to a target stratum mixture
        (operators/sampling.py:mixture_sample); ``weightCol`` switches
        the denominator from doc counts to per-row weight sums."""
        from betl_spark.operators import sampling

        with self.journal.step("mixtureSample", desc or f"mixture {dataset}"):
            out = sampling.mixture_sample(
                self._get(dataset), keyCol, stratumCol, weights,
                weight_col=weightCol,
            )
            self.data[targetDataset or dataset] = out
        return out

    def quantileFilter(
        self,
        dataset: str,
        valueCol: str,
        loQ: float = 0.25,
        hiQ: float = 0.75,
        groupCols: list[str] | None = None,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Keep rows inside the [loQ, hiQ] quantile band of their
        group's distribution (operators/stats.py:quantile_filter)."""
        from betl_spark.operators.stats import quantile_filter

        with self.journal.step("quantileFilter", desc or f"quantile band {dataset}"):
            out = quantile_filter(
                self._get(dataset), valueCol, loQ, hiQ, group_cols=groupCols
            )
            self.data[targetDataset or dataset] = out
        return out

    def dedupeAgainst(
        self,
        dataset: str,
        referenceDataset: str,
        idCol: str,
        textCol: str,
        targetDataset: str | None = None,
        nHashes: int = 16,
        bands: int = 4,
        shingleK: int = 5,
        threshold: float = 0.5,
        desc: str = "",
    ) -> DataFrame:
        """Incremental near-dup check of this dataset against an
        existing reference corpus (operators/dedup.py:near_dups_against).
        Output dataset holds (id_new, id_ref, jaccard)."""
        from betl_spark.operators import dedup

        with self.journal.step(
            "dedupeAgainst", desc or f"{dataset} vs {referenceDataset}"
        ):
            out = dedup.near_dups_against(
                self._get(dataset), self._get(referenceDataset),
                idCol, textCol,
                n_hashes=nHashes, bands=bands,
                shingle_k=shingleK, threshold=threshold,
            )
            self.data[targetDataset or f"{dataset}_dup_refs"] = out
        return out

    def writeTrainingShards(
        self,
        dataset: str,
        path: str,
        keyCol: str,
        nShards: int,
        orderCols: list[str] | None = None,
        desc: str = "",
    ) -> None:
        """Materialize a dataset as deterministic training shards
        (operators/sampling.py:write_training_shards)."""
        from betl_spark.operators.sampling import write_training_shards

        with self.journal.step(
            "writeTrainingShards", desc or f"{dataset} -> {nShards} shards"
        ):
            write_training_shards(
                self._get(dataset), path, keyCol, nShards, order_cols=orderCols
            )
