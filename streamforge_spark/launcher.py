"""Named-job launcher: ``python -m streamforge_spark.launcher <JobName>``.

The run.sh -> Launcher -> JobRegistry -> job.run lifecycle
(core/launcher/Launcher.java:9-20, core/launcher/JobRegistry.java:6-10)
as a module main: look the job up in JOB_REGISTRY, activate its config
scope, build the pipeline, await the streaming queries.

``--drain`` processes everything currently available and stops (the
bounded-run mode tests and backfills use); without it the queries run
until terminated.

``--recover`` runs the resume-token-expiry audit before the job
starts (streaming/recovery.py): every sink checkpoint under
``CHECKPOINT_DIR`` is preflighted against the source filesystem, and
each expired one (uncommitted batches referencing deleted files)
gets a structured gap row in ``OUTPUT_PATH/_gaps`` BEFORE the resume
makes the loss invisible.  Policy is report-and-continue: the file
source replays the lost range as an empty batch (measured Spark 4.1
behavior), which is exactly restart-from-now with continuous batch
ids — archiving the checkpoint instead would restart the batch
numbering, which ``check_batch_output`` refuses over the job's
``batch_id=<n>`` outputs.  The archive+filter degrade path
(``start_with_token_recovery``) remains the right tool for loud
losses (Kafka offsets out of range) where the resume itself dies.
"""

from __future__ import annotations

import sys

from streamforge_spark.config import ScopedConfig
from streamforge_spark.jobs import JOB_REGISTRY
from streamforge_spark.session import get_spark


def _preflight_recover(spark, cfg: ScopedConfig) -> None:
    """Report-and-continue token-expiry audit: write a gap row for
    every sink checkpoint whose pending batches reference deleted
    source files, then let the resume proceed (the file source skips
    the lost range as an empty replay — a restarted batch numbering
    would be refused by ``check_batch_output``).  No-op when healthy."""
    import datetime
    import hashlib

    from streamforge_spark.streaming import recovery

    ckpt_root = cfg.require("CHECKPOINT_DIR")
    fs, _JPath, root = recovery._hadoop_fs(spark, ckpt_root)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        sub = st.getPath().toString()
        if ".expired-" in st.getPath().getName():
            continue   # forensic archives from past loud-loss
            # recoveries are expired by construction — not news
        lost = recovery.preflight_source_audit(spark, sub)
        if not lost:
            continue
        # deterministic report id per (checkpoint, lost-file set): a
        # rerun before the pending batch commits re-detects the same
        # hole but must not double-count it in the gap ledger
        key = hashlib.md5(
            ("\x00".join([sub] + lost)).encode()).hexdigest()
        recovery.report_gap(
            spark, f"{cfg.require('OUTPUT_PATH').rstrip('/')}/_gaps",
            checkpoint=sub, archived_to="",
            policy="skip-lost-files", dedupe_key=key,
            error=f"preflight: pending batches reference missing "
                  f"files {lost[:5]}",
            resumed_at=datetime.datetime.now(datetime.timezone.utc))


def run_job(name: str, cfg: ScopedConfig | None = None,
            spark=None, drain: bool = False, recover: bool = False) -> None:
    if name not in JOB_REGISTRY:
        known = ", ".join(sorted(JOB_REGISTRY))
        raise SystemExit(f"unknown job {name!r}; registered jobs: {known}")
    cfg = cfg or ScopedConfig()
    cfg.activate_job(name)
    spark = spark or get_spark(name)
    if recover:
        _preflight_recover(spark, cfg)
    queries = JOB_REGISTRY[name](spark, cfg)
    if drain:
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            q.stop()
    else:
        for q in queries:
            q.awaitTermination()


def main(argv: list[str]) -> None:
    args = [a for a in argv if a not in ("--drain", "--recover")]
    if len(args) != 1:
        raise SystemExit("usage: python -m streamforge_spark.launcher "
                         "[--drain] [--recover] <JobName>")
    run_job(args[0], drain="--drain" in argv,
            recover="--recover" in argv)


if __name__ == "__main__":
    main(sys.argv[1:])
