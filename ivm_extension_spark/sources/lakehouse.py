"""Lakehouse-shaped state backend: versioned, bucket-granular MERGE INTO
over plain parquet.

The engine's default state lives as ``localCheckpoint`` blocks — fast,
but process-local.  This store gives maintained view state the layout a
lakehouse table format (Delta Lake / Iceberg) would give it, emulated
over parquet + a JSON manifest, with the property that matters at
100 TB: **a merge rewrites only the files whose keys it touched**.

Layout per view::

    <root>/<view>/files/v{N}/__ivm_b={b}/part-*.parquet   data, one dir per bucket
    <root>/<view>/manifest-v{N}.json                      snapshot N

- State rows are hash-bucketed on the view's group keys
  (``pmod(xxhash64(keys), n_buckets)``) — the analogue of the key
  partitioning/clustering a real MERGE INTO target would have.
- ``write_full`` writes every bucket (snapshot v1).
- ``commit`` is the MERGE INTO emulation: it writes NEW files for the
  TOUCHED buckets only and publishes a manifest that maps every
  untouched bucket to its previous file directory — copy-on-write at
  bucket granularity, exactly how table formats prune MERGE rewrites to
  matching files.  Old snapshots stay readable (time travel) because
  files are immutable.
- The manifest is written last; a crashed commit leaves the previous
  manifest as the current snapshot (no torn state).

Local emulation notes (documented gaps vs a real table format): the
manifest is one JSON file (object-store commit would need a conditional
put / log protocol), and concurrent writers are not arbitrated.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

_BUCKET = "__ivm_b"


def bucket_expr(keys: list[str], n_buckets: int):
    """Deterministic bucket id from the view's group keys (0 for a
    global aggregate: its state is one row, one bucket)."""
    if not keys:
        return F.lit(0)
    from ivm_extension_spark.operators.colops import q

    cols = ", ".join(q(k) for k in keys)
    return F.expr(f"pmod(xxhash64({cols}), {int(n_buckets)})")


class LakehouseStore:
    """Versioned bucket-granular parquet state store (see module doc)."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16) -> None:
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets

    # -- manifest plumbing -------------------------------------------------

    def _vdir(self, view: str) -> str:
        return os.path.join(self.root, view)

    def _manifest_path(self, view: str, version: int) -> str:
        return os.path.join(self._vdir(view), f"manifest-v{version:06d}.json")

    def versions(self, view: str) -> list[int]:
        d = self._vdir(view)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.startswith("manifest-v") and f.endswith(".json"):
                out.append(int(f[len("manifest-v") : -len(".json")]))
        return sorted(out)

    def current_version(self, view: str) -> int | None:
        vs = self.versions(view)
        return vs[-1] if vs else None

    def manifest(self, view: str, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version(view)
            if version is None:
                raise FileNotFoundError(f"no snapshot for view {view!r}")
        with open(self._manifest_path(view, version)) as f:
            return json.load(f)

    def __contains__(self, view: str) -> bool:
        return self.current_version(view) is not None

    # -- write paths -------------------------------------------------------

    def _write_buckets(
        self, view: str, df: DataFrame, keys: list[str], version: int
    ) -> tuple[dict[str, str], dict[str, int]]:
        """Write ``df`` partitioned by bucket under files/v{version};
        returns ({bucket -> relative dir}, {bucket -> row count}) for
        buckets that got rows.  Counts come from the parquet FOOTERS of
        the just-written files (driver-local metadata reads, no Spark
        job) — the add-file statistics a real table format records at
        commit time, which is what lets the engine's adaptive merge
        strategy read the state size for free each batch."""
        rel = f"files/v{version:06d}"
        out_dir = os.path.join(self._vdir(view), rel)
        (
            df.withColumn(_BUCKET, bucket_expr(keys, self.n_buckets))
            .write.partitionBy(_BUCKET)
            .mode("overwrite")
            .parquet(out_dir)
        )
        present: dict[str, str] = {}
        rows: dict[str, int] = {}
        if os.path.isdir(out_dir):
            import pyarrow.parquet as pq

            for d in os.listdir(out_dir):
                if d.startswith(f"{_BUCKET}="):
                    b = d.split("=", 1)[1]
                    present[b] = f"{rel}/{d}"
                    full = os.path.join(out_dir, d)
                    rows[b] = sum(
                        pq.ParquetFile(os.path.join(full, f)).metadata.num_rows
                        for f in os.listdir(full)
                        if f.endswith(".parquet")
                    )
        return present, rows

    def write_full(self, view: str, df: DataFrame, keys: list[str]) -> None:
        """Snapshot v1 (or a full rewrite): every bucket written."""
        version = (self.current_version(view) or 0) + 1
        buckets, rows = self._write_buckets(view, df, keys, version)
        self._publish(view, version, buckets, keys, df.schema, rows)

    def commit(
        self,
        view: str,
        new_state: DataFrame,
        keys: list[str],
        touched: list[int],
    ) -> None:
        """MERGE INTO emulation: write new files for the TOUCHED buckets
        only (their post-merge content, filtered out of ``new_state``),
        point every other bucket at its existing files."""
        version = (self.current_version(view) or 0) + 1
        prev = self.manifest(view)
        touched_set = [str(b) for b in touched]
        if touched:
            from ivm_extension_spark.operators.colops import q

            cols = ", ".join(q(k) for k in keys)
            bexpr = (
                f"pmod(xxhash64({cols}), {int(self.n_buckets)})"
                if keys
                else "0"
            )
            in_list = ", ".join(str(int(b)) for b in touched_set)
            touched_df = new_state.filter(f"{bexpr} IN ({in_list})")
        else:
            touched_df = new_state.filter(F.lit(False))
        written, wrows = self._write_buckets(view, touched_df, keys, version)
        buckets = {
            b: p for b, p in prev["buckets"].items() if b not in touched_set
        }
        buckets.update(written)  # a touched bucket with zero rows vanishes
        # carry untouched buckets' row counts forward (their files are the
        # same immutable ones the previous manifest counted); a pre-stats
        # manifest lacking them leaves the count absent -> row_count None
        prev_rows = prev.get("bucket_rows")
        rows = (
            {
                **{b: prev_rows[b] for b in buckets if b in prev_rows},
                **wrows,
            }
            if prev_rows is not None
            else None
        )
        # publish new_state's schema, not the previous manifest's: untouched
        # buckets' files must still parse under it, so a redefinition that
        # changes the shape while reusing the view name is an error, never a
        # silently stale schema
        prev_schema = T.StructType.fromJson(json.loads(prev["schema"]))

        def _shape(s: T.StructType) -> list[tuple[str, str]]:
            # names + types only: nullability and metadata drift between a
            # parquet round-trip and an in-memory merge plan is benign
            return [(f.name, f.dataType.simpleString()) for f in s.fields]

        if buckets != written and _shape(new_state.schema) != _shape(prev_schema):
            raise ValueError(
                f"lakehouse commit for '{view}': state schema changed "
                f"({prev_schema.simpleString()} -> "
                f"{new_state.schema.simpleString()}) but untouched buckets "
                "remain; use write_full to rewrite the snapshot"
            )
        self._publish(view, version, buckets, keys, new_state.schema, rows)

    def _publish(
        self,
        view: str,
        version: int,
        buckets: dict[str, str],
        keys: list[str],
        schema: T.StructType,
        bucket_rows: dict[str, int] | None = None,
    ) -> None:
        manifest = {
            "version": version,
            "n_buckets": self.n_buckets,
            "keys": keys,
            "buckets": buckets,
            "schema": json.dumps(schema.jsonValue()),
        }
        if bucket_rows is not None:
            manifest["bucket_rows"] = bucket_rows
        path = self._manifest_path(view, version)
        tmp = path + ".tmp"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)  # manifest LAST, atomically

    # -- read path ---------------------------------------------------------

    def read(self, view: str, version: int | None = None) -> DataFrame:
        """The snapshot as a DataFrame (lazy parquet scan over the
        manifest's immutable files — no checkpoint needed)."""
        m = self.manifest(view, version)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        paths = [
            os.path.join(self._vdir(view), rel) for rel in m["buckets"].values()
        ]
        if not paths:
            # every bucket deleted: an empty relation planned JVM-side
            # (typed NULL columns over an empty range), not a local-RDD
            # plan that goes through a Python worker
            from ivm_extension_spark.operators.colops import null_lit_exprs

            return self.spark.range(0).selectExpr(*null_lit_exprs(schema, schema.names))
        return self.spark.read.schema(schema).parquet(*paths)

    def bucket_files(self, view: str, version: int | None = None) -> dict[str, str]:
        """{bucket -> relative file dir} of a snapshot — lets tests (and
        operators) verify which buckets a commit actually rewrote."""
        return dict(self.manifest(view, version)["buckets"])

    def row_count(self, view: str, version: int | None = None) -> int | None:
        """Total state rows of a snapshot from the manifest's add-file
        statistics — no Spark job.  None for a pre-stats manifest (the
        caller falls back to counting)."""
        m = self.manifest(view, version)
        rows = m.get("bucket_rows")
        if rows is None:
            return None
        return sum(rows.get(b, 0) for b in m["buckets"])

    # -- table maintenance ---------------------------------------------------

    def compact(self, view: str) -> int:
        """Rewrite the CURRENT snapshot as one fresh full version.

        After many bucket-granular commits a snapshot's manifest points
        into file directories scattered across every historical version
        (copy-on-write never consolidates).  Compaction reads the
        current state and writes every bucket under a single new
        version dir — the OPTIMIZE of a table format.  Old snapshots
        stay readable until :meth:`vacuum`.  Returns the new version."""
        m = self.manifest(view)
        self.write_full(view, self.read(view), list(m["keys"]))
        return self.current_version(view)  # type: ignore[return-value]

    def vacuum(self, view: str, keep_last: int = 1) -> list[int]:
        """Drop snapshots older than the newest ``keep_last`` and delete
        every file directory no retained manifest references — the
        VACUUM of a table format.  Time travel to a vacuumed version
        raises FileNotFoundError afterwards; the retained snapshots are
        untouched (their files are immutable and still referenced).
        Returns the list of dropped versions."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions(view)
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        if not drop:
            return []
        referenced = {
            rel for v in keep for rel in self.manifest(view, v)["buckets"].values()
        }
        vdir = self._vdir(view)
        files_dir = os.path.join(vdir, "files")
        # manifests first: a crash mid-vacuum must never leave a live
        # manifest pointing at deleted files
        for v in drop:
            os.remove(self._manifest_path(view, v))
        if os.path.isdir(files_dir):
            for vd in sorted(os.listdir(files_dir)):
                vrel = f"files/{vd}"
                full = os.path.join(files_dir, vd)
                if not os.path.isdir(full):
                    continue
                for bd in sorted(os.listdir(full)):
                    rel = f"{vrel}/{bd}"
                    if bd.startswith(f"{_BUCKET}=") and rel not in referenced:
                        shutil.rmtree(os.path.join(full, bd), ignore_errors=True)
                if not any(
                    d.startswith(f"{_BUCKET}=") for d in os.listdir(full)
                ):
                    shutil.rmtree(full, ignore_errors=True)
        return drop
