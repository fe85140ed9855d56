"""Benchmark inputs kept in the work directory, keyed on content.

A corpus directory is valid when its marker file holds the footer
fingerprint of the parquet files beside it.  The fingerprint reads only
parquet footers (schema, row counts, per-row-group column statistics),
never file names' mtimes, so a copied or re-checked-out corpus keeps
its key and a changed one cannot pass as the old one.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import os
import shutil

import pyarrow.parquet as pq

import datagen

MARKER = "_FINGERPRINT"
#: Bump when datagen's output changes, so stale corpora are rebuilt.
DATAGEN_VERSION = 1
COPIES = 16


def footer_fingerprint(data_dir: str) -> str:
    """Hash of every table's parquet footer content under ``data_dir``."""
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
        h.update(os.path.basename(path).encode())
        for f in files:
            meta = pq.read_metadata(f)
            h.update(str(meta.schema.to_arrow_schema()).encode())
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                h.update(str(rg.num_rows).encode())
                for c in range(rg.num_columns):
                    st = rg.column(c).statistics
                    if st is not None and st.has_min_max:
                        h.update(f"{st.min!r}|{st.max!r}|{st.null_count}".encode())
    return h.hexdigest()[:16]


def _valid(data_dir: str) -> bool:
    try:
        with open(os.path.join(data_dir, MARKER)) as fh:
            return fh.read().strip() == footer_fingerprint(data_dir)
    except OSError:
        return False


def _publish(tmp: str, final: str) -> str:
    """Stamp ``tmp`` with its fingerprint and move it to ``final``."""
    with open(os.path.join(tmp, MARKER), "w") as fh:
        fh.write(footer_fingerprint(tmp))
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.rename(tmp, final)
    return final


def ensure_corpus(data_root: str, sf: float) -> str:
    """Generated corpus at scale ``sf``; built once per work directory."""
    # the package derives table names from the directory's basename,
    # so names keep to letters, digits, "_" and "."
    final = os.path.join(data_root, f"corpus_v{DATAGEN_VERSION}", f"sf{sf}")
    if not _valid(final):
        tmp = f"{final}_tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, sf)
        _publish(tmp, final)
    return final


def ensure_replica(spark, data_root: str, src: str) -> str:
    """The 16x key-remapped replica of ``src`` built by
    ``tools.scalebench.build_replica``.  Its directory is named after
    the source's footer fingerprint and the replica builder's code, so it is
    rebuilt only when one of them changes."""
    from tools import scalebench

    code = hashlib.sha1(inspect.getsource(scalebench).encode()).hexdigest()[:8]
    final = os.path.join(data_root, f"x{COPIES}_{footer_fingerprint(src)}_{code}")
    if not _valid(final):
        tmp = f"{final}_tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        scalebench.build_replica(spark, src, tmp, COPIES)
        _publish(tmp, final)
    return final
