"""Google Drive source (reference:
python/cocoindex/connectors/google_drive/_source.py — API-based
listing with per-file ``modifiedTime``/``md5Checksum`` as the cheap
version, recursive folder traversal, export of Google-Docs types).

Not scheme-mappable to an HDFS filesystem, so the shape is:

- **Listing on the driver** through the Drive API (paginated
  ``files.list`` per folder, BFS over subfolders) — listing volume is
  metadata-sized, exactly what the reference's single-process lister
  does — parallelized into a DataFrame.
- **Content download on the executors**: ``load`` attaches bytes via
  ``mapInPandas``, each task opening its own client from the picklable
  factory, so a 1M-file drive downloads across the cluster, not
  through the driver.
- ``md5`` / ``mtime`` are the cheap-fp columns for
  ``App.sync_table(cheap_fp_cols=["md5"], load=src.load)`` — a warm
  sync lists but downloads nothing (two-level change detection).

The Google API client library is not in this container; the client is
injected (``client_factory``) and tests use a deterministic fake — the
reference's own connector-test strategy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cocoindex_spark.session import local_frame

FOLDER_MIME = "application/vnd.google-apps.folder"

# Google-Docs native types are downloaded via export (reference
# _source.py export table); everything else via plain media download.
EXPORT_MIME = {
    "application/vnd.google-apps.document": "text/plain",
    "application/vnd.google-apps.spreadsheet": "text/csv",
    "application/vnd.google-apps.presentation": "text/plain",
}

LISTING_SCHEMA = (
    "file_id STRING, name STRING, path STRING, mime_type STRING, "
    "mtime STRING, size LONG, md5 STRING"
)


class FakeDriveClient:
    """Deterministic in-memory drive for tests (the embed.FakeModel
    strategy: the real API client is injected in production, a
    package-level fake — importable on executor workers — in tests).
    Two folders (one nested) and one Google-Docs file needing export."""

    tree = {
        "root": [
            {"id": "f1", "name": "a.txt", "mimeType": "text/plain",
             "modifiedTime": "2026-01-01T00:00:00Z", "size": 5, "md5Checksum": "m1"},
            {"id": "d1", "name": "sub", "mimeType": FOLDER_MIME},
            {"id": "g1", "name": "Doc",
             "mimeType": "application/vnd.google-apps.document",
             "modifiedTime": "2026-01-02T00:00:00Z", "size": 0, "md5Checksum": ""},
        ],
        "d1": [
            {"id": "f2", "name": "b.md", "mimeType": "text/markdown",
             "modifiedTime": "2026-01-03T00:00:00Z", "size": 4, "md5Checksum": "m2"},
        ],
    }
    blobs = {"f1": b"hello", "f2": b"deep"}

    def list_files(self, folder_id):
        return list(self.tree.get(folder_id, []))

    def download(self, file_id):
        return self.blobs[file_id]

    def export(self, file_id, mime):
        return f"exported:{file_id}:{mime}".encode()


class GoogleDriveSource:
    """``client_factory() -> client`` must be picklable; the client
    needs ``list_files(folder_id) -> list[dict]`` (dicts with id, name,
    mimeType, modifiedTime, md5Checksum, size) and
    ``download(file_id) -> bytes`` / ``export(file_id, mime) -> bytes``.
    """

    def __init__(
        self,
        client_factory: Callable[[], object],
        root_folder_ids: list[str],
        recursive: bool = True,
    ):
        self.client_factory = client_factory
        self.root_folder_ids = root_folder_ids
        self.recursive = recursive

    def listing(self, spark: SparkSession) -> DataFrame:
        """BFS the folder tree via the API; one row per non-folder file
        with its path and cheap-version columns."""
        client = self.client_factory()
        rows = []
        queue = [(fid, "") for fid in self.root_folder_ids]
        seen: set[str] = set()
        while queue:
            folder_id, prefix = queue.pop(0)
            if folder_id in seen:  # shared-folder cycles
                continue
            seen.add(folder_id)
            for f in client.list_files(folder_id):
                path = f"{prefix}{f['name']}"
                if f.get("mimeType") == FOLDER_MIME:
                    if self.recursive:
                        queue.append((f["id"], path + "/"))
                    continue
                rows.append(
                    (
                        f["id"],
                        f["name"],
                        path,
                        f.get("mimeType", ""),
                        f.get("modifiedTime", ""),
                        int(f.get("size", 0) or 0),
                        f.get("md5Checksum", ""),
                    )
                )
        return local_frame(spark, rows, LISTING_SCHEMA)

    def load(self, df: DataFrame) -> DataFrame:
        """Attach ``content`` bytes to listing rows — executor-side,
        one client per task, Arrow-batched. Pass as the ``load=``
        callable of ``sync_table`` so only cheap-fp misses download."""
        from pyspark.sql.types import BinaryType, StructField, StructType

        factory = self.client_factory
        # fresh StructType — StructType.add would mutate df's own schema
        out_schema = StructType(
            list(df.schema.fields) + [StructField("content", BinaryType(), True)]
        )

        def fetch(batches):
            client = factory()
            for pdf in batches:
                content = []
                for fid, mime in zip(pdf["file_id"], pdf["mime_type"]):
                    export_mime = EXPORT_MIME.get(mime)
                    if export_mime is not None:
                        content.append(client.export(fid, export_mime))
                    else:
                        content.append(client.download(fid))
                pdf = pdf.copy()
                pdf["content"] = content
                yield pdf

        return df.mapInPandas(fetch, out_schema)
