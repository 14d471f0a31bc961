"""Catalog/manifest I/O seam: every driver-side filesystem operation the
lake needs, behind one small interface.

The lake's data files are read and written by Spark executors through
whatever Hadoop FileSystem the path scheme resolves to — that part is
already object-store-ready. What is NOT automatically portable is the
driver-side catalog work: listing snapshots, reading/CAS-writing manifest
JSON, collecting footer stats for freshly written files, and vacuuming
orphans. This module isolates exactly those calls so a real deployment can
swap in an object-store or catalog-service implementation without touching
the engine:

| method                 | local impl              | S3/GCS/catalog mapping               |
|------------------------|-------------------------|--------------------------------------|
| ``list_names``         | ``os.listdir``          | ListObjectsV2 under prefix           |
| ``read_json``          | ``open`` + ``json``     | GET object                           |
| ``write_json_if_absent``| tmp + fsync + ``os.link`` (EEXIST = lost CAS) | conditional PUT (``If-None-Match: *`` / GCS ``ifGenerationMatch=0``) or catalog CAS |
| ``parquet_stats``      | ``pq.read_metadata`` + ``os.path.getsize``: rows, bytes, ``_row_hash`` null count (= tombstones), max ``_lsn`` | same footer read via pyarrow's fsspec (a ranged GET of the footer) |
| ``walk_files``         | ``os.walk``             | paginated ListObjectsV2              |
| ``remove``             | ``os.remove``           | DELETE object                        |
| ``remove_data_file``   | ``os.remove`` of the file and its ``.crc`` sidecar, ``os.rmdir`` of the directories left empty | DELETE object |
| ``makedirs``           | ``os.makedirs``         | no-op (object stores have no dirs)   |

Single-writer-per-stream is NOT assumed: correctness of concurrent commits
rests only on ``write_json_if_absent`` being a true compare-and-swap, which
every listed backend provides.
"""

from __future__ import annotations

import contextlib
import json
import os

from ..schema import META_LSN, META_ROW_HASH


class LocalManifestIO:
    """The local-filesystem implementation (and the interface definition —
    duck-typed; implement these methods for another backend)."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def list_names(self, dir_path: str) -> list[str]:
        """Names (not paths) under dir_path; empty if it doesn't exist."""
        if not os.path.isdir(dir_path):
            return []
        return os.listdir(dir_path)

    def read_json(self, path: str) -> dict:
        with open(path) as f:
            return json.load(f)

    def write_json_if_absent(self, path: str, obj: dict) -> None:
        """Atomic create-if-absent (the commit CAS). Raises
        ``FileExistsError`` if ``path`` already exists — the caller lost
        the race. ``os.link`` (unlike ``rename``) fails with EEXIST, so two
        writers racing to commit the same snapshot id cannot silently
        last-writer-win; readers only ever see a fully written manifest
        (the temp file is fsync'd before linking)."""
        tmp = path + f".tmp.{os.getpid()}.{id(obj)}"
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        finally:
            # missing_ok: an orphan-sweeper (vacuum) may have raced us on a
            # long-stalled temp; its absence must not shadow the link result
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)

    def parquet_stats(self, path: str) -> tuple[int, int, int, int | None]:
        """(num_rows, file_bytes, tombstones, max_lsn) from the parquet
        footer of a lake data file. ``tombstones`` is the null count of
        ``_row_hash``, which is NULL exactly on tombstone rows (``xxhash64``
        never returns NULL); ``max_lsn`` is the largest ``_lsn`` (None if
        every ``_lsn`` is NULL). Raises ``ValueError`` if a row group lacks
        either statistic — Spark's parquet writer always records both."""
        import pyarrow.parquet as pq

        md = pq.read_metadata(path)
        tombstones, max_lsn = 0, None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = {
                rg.column(i).path_in_schema: rg.column(i).statistics
                for i in range(rg.num_columns)
            }
            h, lsn = st.get(META_ROW_HASH), st.get(META_LSN)
            if (
                h is None
                or not h.has_null_count
                or lsn is None
                or not lsn.has_null_count
                or (lsn.null_count < rg.num_rows and not lsn.has_min_max)
            ):
                raise ValueError(
                    f"{path}: row group {g} has no {META_ROW_HASH} null count "
                    f"or no {META_LSN} max in its footer statistics; manifest "
                    "stats are read from these — rewrite the file with a "
                    "parquet writer that records column statistics"
                )
            tombstones += h.null_count
            if lsn.has_min_max:
                max_lsn = lsn.max if max_lsn is None else max(max_lsn, lsn.max)
        return md.num_rows, os.path.getsize(path), tombstones, max_lsn

    def walk_files(self, root: str) -> list[str]:
        out = []
        for dirpath, _, files in os.walk(root):
            for fn in files:
                out.append(os.path.join(dirpath, fn))
        return out

    def remove(self, path: str) -> None:
        os.remove(path)

    def remove_data_file(self, path: str, root: str) -> None:
        """Remove a data file that Spark wrote under ``root``, the checksum
        sidecar that Hadoop's local filesystem writes next to it
        (``.<name>.crc``), and each directory up to ``root`` that the
        removal leaves empty. An object store has neither sidecars nor
        directories: there this is one DELETE."""
        os.remove(path)
        d, name = os.path.split(path)
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(d, f".{name}.crc"))
        while d != root:
            try:
                os.rmdir(d)  # fails unless empty
            except OSError:
                return
            d = os.path.dirname(d)

    def mtime(self, path: str) -> float:
        """Last-modified unix time (object store: LastModified metadata).
        Used by vacuum's orphan-commit-temp sweep."""
        return os.path.getmtime(path)

    def is_commit_temp(self, name: str) -> bool:
        """True if ``name`` (a bare name from ``list_names``) is this
        backend's commit-temp litter — the ``write_json_if_absent`` temp a
        writer that died pre-link leaves behind. The naming convention is
        private to the backend, so vacuum's orphan sweep asks the seam
        instead of hardcoding it; a backend whose conditional-PUT leaves no
        litter returns False unconditionally."""
        return ".json.tmp." in name

    def remove_tree(self, path: str) -> None:
        """Recursive delete (used only for epoch dirs that ended up empty —
        an object store has no dirs, so the non-local impl is a prefix
        delete of whatever marker objects the committer left)."""
        import shutil

        shutil.rmtree(path, ignore_errors=True)
