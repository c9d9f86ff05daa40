"""One commit log for both resumable manifests (VERDICT r3 item 8).

``CommitLog`` is the protocol: each commit is one parquet file written
to a dot-prefixed temp name and renamed, so a crash mid-append leaves
only a ``.tmp-*`` file the reader skips. Reads are driver-side pyarrow
(a handful of rows per commit; no Spark job needed). A binding supplies
its schema and file prefix: ``checkpoint.ManifestCheckpoint``
(``commit-*``) resumes the denoise job at BUCKET granularity;
``StageManifest`` (``stage-*``) lets the composed dedup/trainprep jobs
skip stages whose outputs are already on disk and committed.

A stage row binds (run_id, job, stage) to a ``params_hash`` — resuming
with different job parameters invalidates every prior row, because a
stage's output depends on them.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

STAGE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("job", pa.string()),
        ("stage", pa.string()),
        ("n_rows", pa.int64()),
        ("secs", pa.float64()),
        ("params_hash", pa.string()),
        ("status", pa.string()),
        ("committed_at", pa.timestamp("us")),
    ]
)


def params_hash(**params) -> str:
    """Stable hash of a job's semantic parameters."""
    canon = ";".join(f"{k}={params[k]!r}" for k in sorted(params))
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


class CommitLog:
    """Parquet commit log: atomic one-file appends and one filtered reader.

    Subclasses set ``schema`` and ``prefix`` (the committed file names
    are ``<prefix>-<micros>-<hex8>.parquet``)."""

    schema: pa.Schema
    prefix: str

    def __init__(self, manifest_dir: str):
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def append_rows(self, rows: list[dict]) -> None:
        """Atomically commit a batch of rows (temp + rename)."""
        if not rows:
            return
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}.parquet")
        final = os.path.join(
            self.dir, f"{self.prefix}-{int(time.time() * 1e6)}-{uuid.uuid4().hex[:8]}.parquet"
        )
        pq.write_table(pa.Table.from_pylist(rows, schema=self.schema), tmp)
        os.rename(tmp, final)

    def read(self, **where) -> list[dict]:
        """Committed rows whose columns equal ``where`` (every row if
        empty). The directory read skips dot-prefixed temp files."""
        filters = [(col, "==", v) for col, v in where.items()] or None
        return pq.read_table(self.dir, schema=self.schema, filters=filters).to_pylist()


class StageManifest(CommitLog):
    """Per-stage commit log: one ``stage-*`` file per completed stage."""

    schema, prefix = STAGE_SCHEMA, "stage"

    def commit(
        self, run_id: str, job: str, stage: str, n_rows: int, secs: float, p_hash: str
    ) -> None:
        self.append_rows([{
            "run_id": run_id,
            "job": job,
            "stage": stage,
            "n_rows": int(n_rows),
            "secs": float(secs),
            "params_hash": p_hash,
            "status": "done",
            "committed_at": int(time.time() * 1e6),
        }])

    def completed(self, run_id: str, job: str, p_hash: str) -> set[str]:
        """Stages already committed 'done' for this run + param lineage."""
        rows = self.read(run_id=run_id, job=job, params_hash=p_hash, status="done")
        return {r["stage"] for r in rows}


class _Skipped:
    """Sentinel returned by :meth:`StageRunner.run` for a stage skipped
    on resume (ADVICE r4: ``None`` was indistinguishable from ``fn()``
    legitimately returning None). Falsy so existing truthiness checks
    keep working; callers that need the stage's product must read it
    from the stage's written output, which is the durable contract."""

    def __bool__(self) -> bool:
        return False

    def __repr__(self) -> str:
        return "<stage skipped on resume>"


SKIPPED = _Skipped()


class StageRunner:
    """Run-or-skip wrapper shared by the composed jobs.

    ``run(name, fn, count_fn)`` executes ``fn`` unless the stage is
    already committed, then commits one manifest row with the stage's
    output row count (from ``count_fn``, typically a metadata-cheap
    parquet count of the stage's written output). Without a manifest it
    degrades to plain timed execution (the pre-r4 behavior). A stage
    skipped on resume returns the module-level :data:`SKIPPED` sentinel,
    never ``None`` — the on-disk stage output is the only contract for a
    skipped stage's product."""

    def __init__(
        self,
        manifest: StageManifest | None,
        run_id: str,
        job: str,
        p_hash: str,
        fail_after_stage: str | None = None,
    ):
        self.manifest = manifest
        self.run_id = run_id
        self.job = job
        self.p_hash = p_hash
        self.fail_after = fail_after_stage
        self.done = (
            manifest.completed(run_id, job, p_hash) if manifest is not None else set()
        )
        self.stage_secs: dict[str, float] = {}
        self.stages_run: list[str] = []
        self.stages_skipped: list[str] = []

    def run(self, name: str, fn, count_fn=None):
        if name in self.done:
            self.stage_secs[name] = 0.0
            self.stages_skipped.append(name)
            return SKIPPED
        t0 = time.time()
        out = fn()
        secs = round(time.time() - t0, 3)
        self.stage_secs[name] = secs
        self.stages_run.append(name)
        if self.manifest is not None:
            n = int(count_fn()) if count_fn is not None else -1
            self.manifest.commit(self.run_id, self.job, name, n, secs, self.p_hash)
        if self.fail_after == name:
            raise RuntimeError(f"injected crash after stage '{name}'")
        return out
