"""Incremental materialized aggregate view over the lake — grouped sums
maintained per epoch WITH RETRACTIONS (Materialize/Flink-style changelog
folding, Iceberg has no equivalent; the reference's closest surface is a
downstream re-aggregation of a full reload).

A batch aggregate over ``published()`` re-scans the table every epoch —
O(table) per refresh. This view instead folds each committed epoch's
change-set as a signed delta: for the epoch's changed keys it reads the
pre-commit and post-commit winner rows (bucket-pruned time travel — the
two snapshots differ ONLY in this epoch's delta group), aggregates both
sides, and commits ``post − pre`` per group. Summing the deltas
telescopes to the aggregate of the final state, so

    state() ≡ batch aggregate over published()      (pinned by tests)

at O(Δ + touched bucket slices) per epoch instead of O(table). Deletes
retract (a group's count can reach 0 and the group vanishes); updates
that move a row between groups retract from one and add to the other.

Commit protocol: the epoch-follower layout shared with the MinHash/Bloom/
term indexes (operators/incremental.py::EpochDeltas — ``deltas/epoch=N``
dirs, scratch→rename, duplicate delivery skips), so passing the view in
``followers=`` of ``replay_batches``/``stream_events`` keeps it in sync
with the table.

Spec (group key + measures) is SQL strings pinned in ``meta.json`` —
reopening with a different spec raises, exactly like BloomIndex.
Measures must be SUM-retractable (counts, sums); an implicit ``n_rows``
count is always maintained and defines group liveness.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import EpochDeltas


class AggView(EpochDeltas):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        key_sql: str,
        key_name: str = "key",
        key_type: str = "string",
        measures: dict[str, str] | None = None,
        measure_type: str = "bigint",
    ) -> None:
        super().__init__(path.rstrip("/"))
        self.spark = spark
        self.key_sql, self.key_name, self.key_type = key_sql, key_name, key_type
        self.measures = dict(measures or {})
        self.measures.setdefault("n_rows", "1")
        self.measure_type = measure_type
        self._base = os.path.join(self.path, "base")
        self._pin_meta(
            {"key_sql": key_sql, "key_name": key_name, "key_type": key_type,
             "measures": self.measures, "measure_type": measure_type},
            "agg view",
        )

    def _ddl(self) -> str:
        cols = [f"{self.key_name} {self.key_type}"]
        cols += [f"{m} {self.measure_type}" for m in sorted(self.measures)]
        return ", ".join(cols)

    def _aggregate(self, rows: DataFrame, *, projected: bool = False) -> DataFrame:
        """``projected=True``: ``rows`` already carries the key and
        per-row measure values as columns (the read(project=) fast
        path); just sum per key."""
        live = rows.filter(~F.col("is_deleted"))
        if projected:
            aggs = [
                F.sum(F.col(name).cast(self.measure_type)).alias(name)
                for name in sorted(self.measures)
            ]
            return live.groupBy(F.col(self.key_name)).agg(*aggs)
        aggs = [
            F.sum(F.expr(sql).cast(self.measure_type)).alias(name)
            for name, sql in sorted(self.measures.items())
        ]
        return live.groupBy(
            F.expr(self.key_sql).cast(self.key_type).alias(self.key_name)
        ).agg(*aggs)

    def update_from_lake_epoch(
        self, table, epoch: int, *, delta_dir: str | None = None
    ) -> dict:
        """Fold one committed lake epoch: signed group deltas from the
        pre/post winner rows of the epoch's changed urls. Cost is
        O(Δ + the changed urls' bucket slices at both versions) — never
        the table. Duplicate delivery skips; a crash between the table
        commit and this commit self-heals on resume (same contract as
        SignatureIndex.update_from_lake_epoch)."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        # the snapshot this epoch's commit produced (pipelined epochs can
        # commit out of epoch order; per-VERSION deltas telescope exactly)
        v = None
        for fn in sorted(table._snapshot_files(), reverse=True):
            snap = table.snapshot_at(int(fn[1:9]))
            if snap.get("epoch_id") == epoch:
                v = snap["version"]
                break
        if v is None:
            if epoch in table._empty_epochs():
                return self.commit_empty_epoch(epoch)
            raise ValueError(
                f"no retained snapshot committed epoch {epoch} — expired? "
                "rebuild the view from published() with rebuild()"
            )
        paths = table.epoch_delta_paths(epoch, delta_dir=delta_dir, version=v)
        if not paths:
            return self.commit_empty_epoch(epoch)
        changed = self.spark.read.parquet(*paths).select("url", "bkt")
        bkts = sorted(
            r["bkt"] for r in changed.select("bkt").distinct().collect()
        )
        urls = changed.select("url").distinct()
        # Two pushdowns below the winner resolution (bench/flatness.py
        # measured the fold growing 2.2× over a 4.4× table growth
        # without them):
        # - keys= applies the changed-url semi-join to the RAW rows, so
        #   the max_by agg runs over the changed urls' own version
        #   chains, not the whole bucket slice;
        # - project= computes the key and per-row measure values BEFORE
        #   the dedup, so the heavy payload columns (html, multi-KB per
        #   row) prune out of the scan and the agg buffers carry a few
        #   bytes per row instead of page payloads.
        project = {
            self.key_name: F.expr(self.key_sql).cast(self.key_type),
            **{
                m: F.expr(sql)
                for m, sql in sorted(self.measures.items())
            },
        }
        post = table.read(buckets=bkts, version=v, keys=urls, project=project)
        pre = table.read(
            buckets=bkts, version=v - 1, keys=urls, project=project
        )
        a_post = self._aggregate(post, projected=True)
        a_pre = self._aggregate(pre, projected=True)
        k = self.key_name
        joined = a_post.alias("p").join(
            a_pre.alias("q"),
            F.col(f"p.{k}").eqNullSafe(F.col(f"q.{k}")),
            "full_outer",
        )
        cols = [F.coalesce(F.col(f"p.{k}"), F.col(f"q.{k}")).alias(k)]
        nonzero = F.lit(False)
        for m in sorted(self.measures):
            d = (
                F.coalesce(F.col(f"p.{m}"), F.lit(0))
                - F.coalesce(F.col(f"q.{m}"), F.lit(0))
            ).cast(self.measure_type)
            cols.append(d.alias(m))
            nonzero = nonzero | (d != 0)
        delta = joined.select(*cols).filter(nonzero)
        return self._commit_delta(delta, epoch)

    def _commit_delta(self, delta: DataFrame, epoch: int) -> dict:
        return self._commit_epoch(
            epoch, lambda scratch: delta.write.mode("overwrite").parquet(scratch)
        )

    # ------------------------------------------------------------------
    def _folded(self) -> dict | None:
        p = os.path.join(self._base, "_folded.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        # legacy layout (pre-marker code): the fold lives in base/state
        # and covers exactly the epochs whose delta parquet was GC'd
        # (an empty-epoch marker dir infers as covered too — harmless,
        # it contributed nothing). Without this, a view compacted under
        # the old code would silently lose its folded base.
        legacy = os.path.join(self._base, "state")
        if os.path.isdir(legacy):
            covered = sorted(
                e for e in self.committed_epochs()
                if not any(
                    f.endswith(".parquet")
                    for f in os.listdir(
                        os.path.join(self._deltas, f"epoch={e}")
                    )
                )
            )
            return {"state": "state", "epochs": covered}
        return None

    def _delta_files(self) -> list[str]:
        """Files contributing to state(): the folded base (if any) plus
        epoch deltas NOT covered by it. The folded-epoch set comes from
        ``_folded.json`` — never from which files happen to remain on
        disk, so a crash between the fold commit and the delta-file GC
        cannot double-count."""
        folded = self._folded()
        skip = set(folded["epochs"]) if folded else set()
        out = []
        for d in os.listdir(self._deltas):
            if not d.startswith("epoch="):
                continue
            if int(d.split("=", 1)[1]) in skip:
                continue
            dd = os.path.join(self._deltas, d)
            out += [
                os.path.join(dd, f) for f in os.listdir(dd)
                if f.endswith(".parquet")
            ]
        if folded:
            sd = os.path.join(self._base, folded["state"])
            out += [
                os.path.join(sd, f) for f in os.listdir(sd)
                if f.endswith(".parquet")
            ]
        return out

    def state(self) -> DataFrame:
        """The materialized aggregate: one row per live group (implicit
        ``n_rows`` count > 0). One O(groups × epochs-since-fold) sum —
        never a scan of the lake."""
        files = self._delta_files()
        if not files:
            return self.spark.createDataFrame([], self._ddl())
        df = self.spark.read.schema(self._ddl()).parquet(*files)
        aggs = [F.sum(m).cast(self.measure_type).alias(m)
                for m in sorted(self.measures)]
        return (
            df.groupBy(self.key_name).agg(*aggs)
            .filter(F.col("n_rows") != 0)
        )

    def compact(self) -> dict:
        """Fold everything into one base state (zero-net groups drop —
        they net zero against any future delta too). Crash-atomic: the
        new state lands under a fresh name, then ``_folded.json`` flips
        to it by ONE atomic rename recording exactly which epochs it
        covers; deleting the covered epochs' parquet files afterwards is
        pure GC (``_delta_files`` never reads a covered epoch's files).
        Epoch dirs stay as markers so committed_epochs() and duplicate
        delivery keep working."""
        # ONE capture drives both the fold's input files and the marker's
        # covered set: an epoch committing concurrently is either wholly
        # in both, or in neither — never folded-but-uncovered (which
        # would double-count it on the next state()).
        covered = sorted(self.committed_epochs())
        prior = self._folded()
        prior_epochs = set(prior["epochs"]) if prior else set()
        files = []
        for e in covered:
            if e in prior_epochs:
                continue  # already in the prior folded state
            dd = os.path.join(self._deltas, f"epoch={e}")
            files += [
                os.path.join(dd, f) for f in os.listdir(dd)
                if f.endswith(".parquet")
            ]
        if prior:
            sd = os.path.join(self._base, prior["state"])
            files += [
                os.path.join(sd, f) for f in os.listdir(sd)
                if f.endswith(".parquet")
            ]
        if not files:
            return {"folded": 0}
        df = self.spark.read.schema(self._ddl()).parquet(*files)
        aggs = [F.sum(m).cast(self.measure_type).alias(m)
                for m in sorted(self.measures)]
        nonzero = F.lit(False)
        for m in sorted(self.measures):
            nonzero = nonzero | (F.col(m) != 0)
        folded = df.groupBy(self.key_name).agg(*aggs).filter(nonzero)
        os.makedirs(self._base, exist_ok=True)
        state_name = f"state_{uuid.uuid4().hex[:8]}"
        scratch = os.path.join(self.path, f"_tmp_base_{uuid.uuid4().hex}")
        folded.write.mode("overwrite").parquet(scratch)
        os.rename(scratch, os.path.join(self._base, state_name))
        marker = {"state": state_name, "epochs": covered}
        tmp = os.path.join(self._base, f"_folded.tmp{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.rename(tmp, os.path.join(self._base, "_folded.json"))  # commit
        # GC: covered epochs' parquet files and superseded state dirs
        covered_set = set(covered)
        for d in os.listdir(self._deltas):
            if not d.startswith("epoch="):
                continue
            if int(d.split("=", 1)[1]) in covered_set:
                dd = os.path.join(self._deltas, d)
                for fn in list(os.listdir(dd)):
                    if fn.endswith(".parquet") or fn.startswith("_"):
                        os.remove(os.path.join(dd, fn))
        for d in list(os.listdir(self._base)):
            if d.startswith("state") and d != state_name:
                shutil.rmtree(os.path.join(self._base, d),
                              ignore_errors=True)
        return {"folded": len(covered), "state": state_name}

    def rebuild(self, table) -> dict:
        """Recompute from the table's published state (the escape hatch
        when history needed for a delta has been expired/compacted):
        drop everything, fold the batch aggregate as one delta keyed by
        the table's max committed epoch."""
        shutil.rmtree(self._deltas, ignore_errors=True)
        shutil.rmtree(self._base, ignore_errors=True)
        os.makedirs(self._deltas, exist_ok=True)
        rows = table.read()
        top = max(table.committed_epochs(), default=0)
        out = self._commit_delta(self._aggregate(rows), int(top))
        # earlier epochs are folded into this baseline: mark them
        for e in sorted(table.committed_epochs()):
            if e != top:
                self.commit_empty_epoch(int(e))
        return dict(out, rebuilt=True)
