"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API):
the ingestion-boundary connector as a FIRST-CLASS Spark source.

The reference's ingestion (ecommerce_raw_to_s3.py:44-113) is a driver
script: list landed CSVs, filter names, parse each. ``ingest.py``
re-expresses that utility; THIS module lifts the same boundary into the
engine itself — ``spark.read.format("csv_manifest")`` — so landed-file
ingestion composes with every other operator (predicate pushdown aside:
a Python source is an opaque scan) and parallelizes by construction:

- **one InputPartition per landed file** (the natural unit of a landing
  zone — at 100 TB a drop of 10 000 files fans out to 10 000 tasks, no
  single-cursor driver loop);
- **deterministic partition order** (sorted listing) so row lineage is
  reproducible;
- **raw strings out, casts stay in Spark**: the reader yields every
  field as a string exactly as landed plus a ``_source_file`` lineage
  column — tolerant_numeric/date_normalize and friends do the typing
  JVM-side. Python touches each byte once (the unavoidable decode);
  everything downstream is codegen.

PICKLING CONTRACT (the applyInPandasWithState lesson, see
streaming/stateful.py:39): Spark ships the registered DataSource class
to separate Python processes (a planning-side runner AND executors)
that may not have this package on their import path — a module-level
class pickles BY REFERENCE and dies there with ModuleNotFoundError
(observed in the driver-style /tmp harness). The classes are therefore
defined inside a factory so their qualname contains ``<locals>`` and
cloudpickle serializes them BY VALUE, and every helper they touch is
factory-local or stdlib — no reference back into this package may leak
into the class bodies.

Where Python data sources belong: connectors whose client library is
Python-only (the Kaggle API here) or formats Spark lacks. They are NOT
the fast path for formats Spark reads natively — csv_source.py remains
the scan used by the pipelines; this source exists for the boundary
where the reference's ingestion logic (name filter, encoding fallback)
must run inside the scan itself.
"""

from __future__ import annotations

try:  # Spark 4 API — absent on older runtimes; gate, never crash import
    from pyspark.sql.datasource import DataSource  # noqa: F401

    HAS_PYDS = True
except ImportError:  # pragma: no cover — pyspark < 4
    HAS_PYDS = False


def _build_classes():
    """Factory for both landing-zone sources, the batch
    ``csv_manifest`` and the streaming ``landing_stream``: everything
    the shipped classes touch lives in THIS scope (or stdlib/pyspark,
    which workers always have). Both list the landing directory the
    same way, read one input partition per landed file and parse it
    the same way; they differ only in how partitions are planned.

    The streaming reader is partition-based (``DataSourceStreamReader``
    — NOT the Simple driver-side variant), so file contents are parsed
    on EXECUTORS, one input partition per newly-landed file, and the
    driver handles only offsets (file counts) and listings. This is the
    scale-correct split: at 100 TB the driver's work per micro-batch is
    one directory listing; all byte-touching fans out.

    Stream offset contract: ``{"n": k}`` = the first ``k`` files of the
    SORTED listing are consumed. Correct for append-only landing zones
    whose names sort monotonically (timestamped naming — exactly what
    sinks/csv_sink.py produces) or zones immutable during a drain; a
    late file sorting BEFORE a consumed name would shift indices (the
    same class of hazard as the reference's modified-in-last-Δ
    heuristic, pg.py:74-121, but detectable here: the listing prefix
    can be revalidated against the checkpoint)."""
    import csv
    import io
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    # reference s3.py:95-99 — UTF-8 first, ISO-8859-1 when the bytes
    # aren't valid UTF-8 (the reference's two-codec landing reality).
    def _decode_landed(raw: bytes) -> str:
        for enc in ("utf-8", "iso-8859-1"):
            try:
                return raw.decode(enc)
            except UnicodeDecodeError:
                continue
        # iso-8859-1 maps every byte; unreachable, kept for clarity
        return raw.decode("iso-8859-1", errors="replace")

    class _LandedFile(InputPartition):
        """One landed file = one partition. The value is the file path
        — a picklable primitive, shipped to the executor reading it."""

    class _LandingReader:
        """The listing and the per-file parse both readers share."""

        def __init__(self, options: dict, fields):
            self._path = options["path"]
            self._fields = list(fields)
            self._header = options.get("header", "true").lower() == "true"
            # landing-zone name filter (reference s3.py:74-78 shape),
            # configurable: substring the name must contain —
            # lowercased to match the lowercased listing (a mixed-case
            # needle would otherwise silently select zero files)
            self._must_contain = options.get("name_contains", "").lower()

        def _listing(self):
            return sorted(
                n
                for n in os.listdir(self._path)
                if n.endswith(".csv")
                and "%20" not in n
                and self._must_contain in n.lower()
            )

        def _files(self, names):
            return [_LandedFile(os.path.join(self._path, n)) for n in names]

        def read(self, partition):
            path = partition.value
            fname = os.path.basename(path)
            with open(path, "rb") as fh:
                text = _decode_landed(fh.read())
            rows = csv.reader(io.StringIO(text))
            width = len(self._fields)
            first = True
            for rec in rows:
                if first and self._header:
                    first = False
                    continue
                first = False
                if not rec:  # blank line — not a data row (native
                    continue  # CSV readers skip these too)
                # align to the declared width (reference pads/
                # truncates misaligned rows downstream; short rows
                # null-pad so the structural split operator can flag
                # them)
                vals = list(rec[:width]) + [None] * (width - len(rec))
                yield (*vals, fname)

    class CsvManifestReader(_LandingReader, DataSourceReader):
        def partitions(self):
            return self._files(self._listing())

    class LandingStreamReader(_LandingReader, DataSourceStreamReader):
        def initialOffset(self):
            return {"n": 0}

        def latestOffset(self):
            return {"n": len(self._listing())}

        def partitions(self, start, end):
            return self._files(self._listing()[start["n"] : end["n"]])

        def commit(self, end):
            # landed files are immutable inputs; nothing to release
            pass

    class _LandingSource(DataSource):
        """Every column as string plus ``_source_file``; the column
        names come from the required ``columns`` option."""

        def _field_list(self):
            cols = self.options.get("columns")
            if not cols:
                raise ValueError(
                    f"{self.name()} requires .option('columns', 'a,b,c')"
                    " — a Python source cannot infer schema without an"
                    " extra full pass over the landing zone"
                )
            return [c.strip() for c in cols.split(",") if c.strip()]

        def schema(self) -> str:
            fields = ", ".join(
                f"`{c}` string" for c in self._field_list()
            )
            return f"{fields}, `_source_file` string"

    class CsvManifestDataSource(_LandingSource):
        """``spark.read.format("csv_manifest").option("path", dir)
        .option("columns", "a,b,c").load()`` → every column as string
        plus ``_source_file``. Register via :func:`register`."""

        @classmethod
        def name(cls) -> str:
            return "csv_manifest"

        def reader(self, schema):
            return CsvManifestReader(
                dict(self.options), self._field_list()
            )

    class LandingStreamDataSource(_LandingSource):
        """``spark.readStream.format("landing_stream")
        .option("path", dir).option("columns", "a,b,c").load()`` —
        the streaming twin of ``csv_manifest``: every column as
        string plus ``_source_file``, micro-batches advance over
        newly-landed files."""

        @classmethod
        def name(cls) -> str:
            return "landing_stream"

        def streamReader(self, schema):
            return LandingStreamReader(
                dict(self.options), self._field_list()
            )

    return (
        CsvManifestReader,
        CsvManifestDataSource,
        LandingStreamReader,
        LandingStreamDataSource,
    )


if HAS_PYDS:
    (
        CsvManifestReader,
        CsvManifestDataSource,
        LandingStreamReader,
        LandingStreamDataSource,
    ) = _build_classes()
else:  # pragma: no cover — pyspark < 4: keep the attributes defined so
    # accessing them degrades to the same clear error register() raises,
    # not an AttributeError at module-attribute lookup
    CsvManifestReader = None
    CsvManifestDataSource = None
    LandingStreamReader = None
    LandingStreamDataSource = None


def register(spark) -> None:
    """Idempotently register the source on a session (re-registration
    overwrites; safe across repeated query calls)."""
    if not HAS_PYDS:  # pragma: no cover
        raise NotImplementedError(
            "pyspark.sql.datasource requires Spark 4+"
        )
    spark.dataSource.register(CsvManifestDataSource)


def register_stream(spark) -> None:
    """Idempotently register the streaming landing-zone source."""
    if not HAS_PYDS:  # pragma: no cover
        raise NotImplementedError(
            "pyspark.sql.datasource requires Spark 4+"
        )
    spark.dataSource.register(LandingStreamDataSource)
