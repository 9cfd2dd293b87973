"""Zip + SHA-256 packaging (S7), driver-side.

Structural parity with the reference's packaging step
(/root/reference/export.py:145-210):

1. all ``*.csv`` in the export folder → ``{name}.zip`` (deflated);
2. SHA-256 of that archive → ``{name}_checksum.txt``;
3. both wrapped into the final ``{name}_packaged18.zip``;
4. temporaries (inner zip + checksum file) removed.

This is plain-Python post-processing of driver-local files — not a
Spark operator (SURVEY.md §2a S7).
"""

from __future__ import annotations

import hashlib
import os
import zipfile


def sha256_of(path: str, chunk: int = 4096) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(chunk), b""):
            h.update(block)
    return h.hexdigest()


def zip_files_with_checksum(
    folder_path: str, zip_name: str, cleanup_csvs: bool = False
) -> str:
    """Package every CSV under ``folder_path`` in sorted name order;
    returns the final ``*_packaged18.zip`` path. ``cleanup_csvs=True``
    also removes the source CSVs afterwards (the reference deletes
    them, export.py:317-326)."""
    csv_archive_path = os.path.join(folder_path, f"{zip_name}.zip")
    checksum_path = os.path.join(folder_path, f"{zip_name}_checksum.txt")
    final_zip_path = os.path.join(folder_path, f"{zip_name}_packaged18.zip")

    # sorted, so the member order depends neither on the filesystem's
    # listing order nor on which report finished first
    csv_files = sorted(
        os.path.join(root_dir, fname)
        for root_dir, _, files in os.walk(folder_path)
        for fname in files
        if fname.endswith(".csv")
    )
    try:
        with zipfile.ZipFile(csv_archive_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for fpath in csv_files:
                zf.write(fpath, arcname=os.path.relpath(fpath, folder_path))

        with open(checksum_path, "w") as f:
            f.write(sha256_of(csv_archive_path))

        with zipfile.ZipFile(final_zip_path, "w", zipfile.ZIP_DEFLATED) as final_zf:
            final_zf.write(csv_archive_path, arcname=os.path.basename(csv_archive_path))
            final_zf.write(checksum_path, arcname=os.path.basename(checksum_path))
    finally:
        for tmp in (csv_archive_path, checksum_path):
            if os.path.exists(tmp):
                os.remove(tmp)

    if cleanup_csvs:
        for fpath in csv_files:
            if os.path.exists(fpath):
                os.remove(fpath)
    return final_zip_path
