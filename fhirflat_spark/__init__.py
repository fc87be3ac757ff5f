"""fhirflat_spark — a PySpark-native per-column lightweight-compression engine.

A from-scratch engine (NOT a port) with the encode/decode/validate/manifest
capabilities of globaldothealth/fhirflat, re-expressed Spark-first:

- columnar encode: dictionary, RLE, FSST-style sampled symbol tables,
  bit-packing, frame-of-reference, delta/front-coding, with a per-chunk
  codec auto-selector driven by sampled cardinality/run/entropy stats
  (the analog of fhirflat's ``_dense`` demotion heuristic,
  reference ``fhirflat/fhir2flat.py:56-61``);
- bit-identical decode validated by per-row sha256 equality (the analog of
  fhirflat's pydantic round-trip re-validation,
  reference ``fhirflat/resources/base.py:60-87``);
- per-partition encode manifests with checksums for checkpoint-resumable
  lineage (the analog of fhirflat's ``fhirflat.toml`` + ``sha256sums.txt``,
  reference ``fhirflat/ingest.py:381-432``);
- salted repartitioning on ``repo`` to defuse giant-repo skew (the analog of
  fhirflat's joblib process fan-out, reference ``fhirflat/ingest.py:582-594``).

All encode/decode kernels are vectorized (numpy / pyarrow compute inside
``mapInArrow`` batches); there is no per-row Python anywhere on the hot path.
"""

__version__ = "0.1.0"

import os
import sys
import zipimport

from fhirflat_spark.codecs import decode_array, encode_array  # noqa: F401


def _skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` cheap for unchanged zips.

    PySpark's Python worker calls ``importlib.invalidate_caches()`` before
    every task. On CPython < 3.13 each ``zipimporter`` then re-reads its
    archive's whole central directory; a warm worker holds one importer
    per package directory imported from ``pyspark.zip`` (16 of them,
    ~10 ms each), so every task would pay ~0.16 CPU-s before any engine
    code runs. The replacement re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` differs from the last read, and otherwise
    rebinds the importer to the directory that read cached. A rewritten
    zip (e.g. a rebuilt ``--py-files`` archive) is still re-read. CPython
    3.13+ only drops the cache there, so it is left alone.
    """
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)
            return
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    cls.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
