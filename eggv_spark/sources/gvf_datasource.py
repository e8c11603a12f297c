"""Python DataSource V2 for GVF — ``spark.read.format("gvf")``.

The extensibility showcase for SURVEY §2.1: the same 9-column GVF
contract as :func:`eggv_spark.sources.readers.read_gvf` (reference
``eggv/process.py:25-61``), registered as a first-class Spark format
through PySpark 4's Python DataSource API instead of a helper
function.  One ``InputPartition`` per input file — the right split
for gzipped inputs a byte-range splitter can't subdivide, and it
mirrors the reference's per-chromosome fan-out
(``eggv/pipeline.py:177``) — so a multi-file corpus scans in
parallel without any driver-side reading.

Rows cross the Python boundary as pyarrow RecordBatches (the fast
path of the Python DataSource API — tuple-yielding readers pay
per-row pickling), chunked at ``_BATCH_ROWS`` so one huge file never
materializes as a single batch.

Malformed-row policy mirrors the CSV reader's mode names:
- ``FAILFAST`` (default): a row with the wrong field count or a
  non-integer start/end raises at the SCAN with the file path and
  offending line — corruption is never invisible (readers.read_gvf
  quarantines instead of dropping for the same reason).
- ``DROPMALFORMED`` (``.option("mode", "dropmalformed")``): skip bad
  rows, for salvage reads of known-dirty feeds.

When to use which reader:
- ``read_gvf_split`` (one ``split`` per line of ``spark.read.text``,
  JVM-side) is the FAST path — whole-stage codegen, splittable
  plain-text files.  The pipeline reads trusted GVF drops through it.
- ``read_gvf`` (CSV reader, JVM-side) is the QUARANTINE path for
  untrusted drops — PERMISSIVE corrupt capture
  (``capture_corrupt=True``, split with ``split_corrupt``).
- ``format("gvf")`` is the INTEGRATION path — the format string
  travels through SQL (``CREATE TABLE ... USING gvf``), catalogs,
  and any tooling that only speaks formats.

Register once per session with :func:`register_gvf_datasource`.
"""

from __future__ import annotations

import glob
import gzip
import io
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_GVF_DDL = (
    "seqid string, source string, type string, start long, end long,"
    " score string, strand string, phase string, attr string"
)

#: Rows per yielded RecordBatch — bounds executor memory per file.
_BATCH_ROWS = 16384


class _GvfFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class GvfDataSourceReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("gvf datasource requires a path")
        self._path = path
        self._drop_malformed = (
            str(options.get("mode", "FAILFAST")).upper() == "DROPMALFORMED"
        )

    def _files(self) -> list[str]:
        p = self._path
        if os.path.isdir(p):
            found = sorted(
                f for f in glob.glob(os.path.join(p, "*"))
                if os.path.isfile(f)
            )
        else:
            found = sorted(glob.glob(p)) or [p]
        return found

    def partitions(self):
        # one partition per file: executors read their own files; the
        # driver never opens data (only globs names)
        return [_GvfFilePartition(f) for f in self._files()]

    def read(self, partition):
        import pyarrow as pa

        path = partition.path
        opener = gzip.open if path.endswith(".gz") else open
        cols: list[list] = [[] for _ in range(9)]

        def flush():
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[0], pa.string()),
                    pa.array(cols[1], pa.string()),
                    pa.array(cols[2], pa.string()),
                    pa.array(cols[3], pa.int64()),
                    pa.array(cols[4], pa.int64()),
                    pa.array(cols[5], pa.string()),
                    pa.array(cols[6], pa.string()),
                    pa.array(cols[7], pa.string()),
                    pa.array(cols[8], pa.string()),
                ],
                names=[
                    "seqid", "source", "type", "start", "end",
                    "score", "strand", "phase", "attr",
                ],
            )
            for c in cols:
                c.clear()
            return batch

        with opener(path, "rb") as fh:
            for raw in io.TextIOWrapper(fh, encoding="utf-8"):
                if not raw.strip() or raw.startswith("#"):
                    continue
                parts = raw.rstrip("\n").split("\t")
                try:
                    if len(parts) != 9:
                        raise ValueError(
                            f"expected 9 GVF fields, got {len(parts)}"
                        )
                    start, end = int(parts[3]), int(parts[4])
                except ValueError as exc:
                    if self._drop_malformed:
                        continue
                    raise ValueError(
                        f"{path}: malformed GVF row ({exc}): {raw[:80]!r}"
                    ) from exc
                for i, v in enumerate(parts):
                    cols[i].append(v)
                cols[3][-1] = start
                cols[4][-1] = end
                if len(cols[0]) >= _BATCH_ROWS:
                    yield flush()
        if cols[0]:
            yield flush()


class GvfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gvf"

    def schema(self) -> str:
        return _GVF_DDL

    def reader(self, schema):
        return GvfDataSourceReader(self.options)


def register_gvf_datasource(spark) -> None:
    """Idempotent session-level registration of the ``gvf`` format."""
    spark.dataSource.register(GvfDataSource)


#: Back-compat alias (the pre-rename registration entry point).
register = register_gvf_datasource
