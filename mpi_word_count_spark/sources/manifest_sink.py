"""Custom Python Data Source WRITER: a JSONL sink with atomic
manifest commit — the writer-side twin of the synthcorpus reader
(sources/synthetic.py), exercising the other half of the Data Source
API (write / commit / abort, the two-phase commit protocol).

Commit protocol (the Iceberg/Delta-lite pattern, object-store safe):
- every task writes ONE uniquely-named data file (partition id +
  task attempt id — safe under speculative/retried tasks, no renames)
  and returns a commit message with its filename, row count, and a
  content digest;
- `commit()` runs once on the driver after ALL tasks succeed and
  writes `_MANIFEST.json` listing exactly the files that make up the
  dataset — readers resolve the manifest, never the directory, so a
  half-written job (or a stray file from a failed attempt) is
  INVISIBLE until the single atomic manifest write;
- `abort()` leaves data files as garbage for janitors; correctness
  never depends on cleanup.

At 100 TB nothing changes: tasks stream to the object store under
unique keys, the manifest is one small driver-side PUT, and reader
visibility flips atomically with it.
"""

from __future__ import annotations

import json
import os

JSONL_MANIFEST = "_MANIFEST.json"

try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class JsonlFileCommit(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int, n_bytes: int):
            self.filename = filename
            self.n_rows = n_rows
            self.n_bytes = n_bytes

    class ManifestJsonlWriter(DataSourceWriter):
        def __init__(self, options: dict, schema):
            self.path = options.get("path") or options.get("dir")
            if not self.path:
                raise ValueError("manifestsink requires a 'path' option")
            self.fields = [f.name for f in schema.fields]
            # streaming exactly-once: when foreachBatch passes its
            # batch id, a REPLAYED batch (sink committed but the
            # checkpoint WAL didn't) is recognized and its commit
            # no-ops — the replay's data files become vacuum fodder
            bid = options.get("batch_id")
            self.batch_id = int(bid) if bid is not None else None

        def write(self, iterator) -> "JsonlFileCommit":
            from pyspark import TaskContext

            ctx = TaskContext.get()
            fname = (
                f"part-{ctx.partitionId():05d}-"
                f"attempt-{ctx.taskAttemptId()}.jsonl"
            )
            os.makedirs(self.path, exist_ok=True)
            full = os.path.join(self.path, fname)
            n_rows = n_bytes = 0
            with open(full, "w", encoding="utf-8") as fh:
                for row in iterator:
                    line = json.dumps(
                        dict(zip(self.fields, row)), ensure_ascii=False
                    )
                    fh.write(line + "\n")
                    n_rows += 1
                    n_bytes += len(line) + 1
            return JsonlFileCommit(fname, n_rows, n_bytes)

        def commit(self, messages) -> None:
            new_files = [
                {"file": m.filename, "rows": m.n_rows, "bytes": m.n_bytes}
                for m in messages
                if m is not None
            ]
            # snapshot semantics (append mode): the new version carries
            # every file of the previous snapshot plus this job's files
            # — and every version's manifest is RETAINED, which is all
            # time travel is: read AS OF version = resolve that
            # manifest. Single-writer protocol (object-store CAS on the
            # latest pointer generalizes it to concurrent committers).
            try:
                prev = read_manifest(self.path)
            except FileNotFoundError:
                prev = {"files": [], "version": 0}
            if (
                self.batch_id is not None
                and prev.get("batch_id", -1) >= self.batch_id
            ):
                return  # replayed micro-batch: already committed
            files = list(prev["files"]) + new_files
            files.sort(key=lambda d: d["file"])
            manifest = {
                "version": prev.get("version", 0) + 1,
                "files": files,
                "total_rows": sum(f["rows"] for f in files),
            }
            if self.batch_id is not None:
                manifest["batch_id"] = self.batch_id
            versioned = os.path.join(
                self.path, f"_MANIFEST-v{manifest['version']}.json"
            )
            tmp = versioned + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(manifest, fh)
            os.replace(tmp, versioned)
            tmp2 = os.path.join(self.path, JSONL_MANIFEST + ".tmp")
            with open(tmp2, "w", encoding="utf-8") as fh:
                json.dump(manifest, fh)
            os.replace(tmp2, os.path.join(self.path, JSONL_MANIFEST))

        def abort(self, messages) -> None:  # pragma: no cover - driver kill
            # data files are garbage until a manifest names them; no
            # cleanup is load-bearing (janitor territory)
            pass

    class ManifestJsonlDataSource(DataSource):
        """`df.write.format("manifestsink").option("path", p).save()`
        after `spark.dataSource.register(ManifestJsonlDataSource)`."""

        @classmethod
        def name(cls) -> str:
            return "manifestsink"

        def writer(self, schema, overwrite: bool) -> ManifestJsonlWriter:
            return ManifestJsonlWriter(self.options, schema)

    HAVE_WRITER_API = True
except ImportError:  # pragma: no cover - pyspark < 4.0
    HAVE_WRITER_API = False


def register_manifest_sink(spark) -> None:
    """Idempotent per-session registration of the sink."""
    if not HAVE_WRITER_API:
        raise ImportError(
            "the manifestsink connector needs the Python Data Source API "
            "(pyspark >= 4.0)"
        )
    spark.dataSource.register(ManifestJsonlDataSource)


def read_manifest(path: str, version: int | None = None) -> dict:
    """Latest manifest, or a specific retained snapshot (time travel:
    `version=N` resolves `_MANIFEST-vN.json`)."""
    name = JSONL_MANIFEST if version is None else f"_MANIFEST-v{version}.json"
    with open(os.path.join(path, name), encoding="utf-8") as fh:
        return json.load(fh)


def read_manifest_jsonl(spark, path: str, schema: str, version: int | None = None):
    """Manifest-resolved read: ONLY files the committed manifest names
    are visible — a stray file from a failed attempt never leaks into
    results (tested with a planted orphan). `version` reads an older
    retained snapshot (time travel)."""
    files = [
        os.path.join(path, f["file"])
        for f in read_manifest(path, version)["files"]
    ]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
