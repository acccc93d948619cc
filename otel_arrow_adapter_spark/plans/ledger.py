"""F4 checkpoint ledger: per-partition lineage + metrics, idempotent restart.

The reference's stream ack (BatchStatus per batch_id,
/root/reference/proto/.../arrow_service.proto:42-64) becomes a committed
ledger row per processed partition range: a restart skips ranges whose
status is 'done'. Metrics mirror ProducerStats counters
(/root/reference/pkg/otel/stats/stats.go:26-43).

Implementation: one JSON-lines file, ``<path>/ledger.jsonl``, with one
row appended per record — the last row per partition_key wins. It is read
and written through the Hadoop FileSystem resolved from the path's
scheme, so a file:// or hdfs:// out_dir keeps its ledger under that
out_dir, like a bare path does. On Iceberg this would be a MERGE; a
small file keeps the sandbox dependency-free with the same protocol.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import SparkSession


class Ledger:
    """Tiny driver-side ledger (JSON lines per partition key).

    Driver-side is correct here: the ledger has one row per *partition
    range* (thousands at most), not per data row. At cluster scale this
    maps 1:1 onto an Iceberg metadata table or a JDBC checkpoint store.
    """

    def __init__(self, path: str, run_id: str | None = None):
        self.path = path
        self.run_id = run_id or f"run-{uuid.uuid4().hex[:8]}"
        spark = SparkSession.active()
        self._jvm = spark._jvm
        self._file = self._jvm.org.apache.hadoop.fs.Path(f"{path}/ledger.jsonl")
        fs = self._file.getFileSystem(spark._jsc.hadoopConfiguration())
        # the checksummed local FS keeps a .crc beside the file, which a
        # hand-edited ledger (forgetting a bucket to redo it) would fail
        self._fs = fs.getRawFileSystem() if fs.getScheme() == "file" else fs
        if not self._fs.exists(self._file):
            self._fs.create(self._file, False).close()

    def _rows(self) -> list[dict]:
        stream = self._fs.open(self._file)
        try:
            text = self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return [json.loads(line) for line in text.splitlines() if line.strip()]

    def done_keys(self) -> set[str]:
        state: dict[str, str] = {}
        for r in self._rows():
            state[r["partition_key"]] = r["status"]
        return {k for k, v in state.items() if v == "done"}

    def record(self, partition_key: str, status: str, n_rows: int = 0, metrics: dict | None = None) -> None:
        row = {
            "run_id": self.run_id,
            "partition_key": partition_key,
            "status": status,
            "n_rows": n_rows,
            "ts": time.time(),
            "metrics": metrics or {},
        }
        out = self._fs.append(self._file)
        try:
            out.write((json.dumps(row) + "\n").encode())
        finally:
            out.close()
