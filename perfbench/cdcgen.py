"""Seeded CDC envelope traffic and its expected outcome.

``make_traffic`` builds every newline-JSON envelope file of a run from
the seed alone.  ``expected_counts`` is the outcome model: the exact
``out``, ``dlq_parse`` and ``dlq_schema`` row counts that
``MongoToKafka`` must write for those files.  The model follows the
job's chain:

* a line that is not a JSON object goes to ``dlq_parse``;
* ``operation == "unknown"`` is dropped;
* dedup on ``(primary_key, event_time)`` drops the byte-identical
  replays (every fresh record has its own event time);
* the merger drops a record whose payload, minus ``updatedAt`` and
  ``modifiedAt``, was already seen for its key;
* a surviving payload without ``_id`` goes to ``dlq_schema``, the
  rest to ``out``.

Event time advances one second per file, so a backlog of fewer than
600 files stays inside the job's 10-minute watermark and nothing is
dropped as late.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import random

EXCLUDED_FIELDS = ("updatedAt", "modifiedAt")
EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
WATERMARK_S = 600


@dataclasses.dataclass(frozen=True)
class TrafficSpec:
    files: int
    per_file: int = 500
    keys: int = 20_000
    hot_share: float = 0.3
    pareto_alpha: float = 1.2
    dup_share: float = 0.05
    unknown_share: float = 0.02
    no_id_share: float = 0.01
    bad_line_share: float = 0.005
    same_content_share: float = 0.1

    @property
    def envelopes(self) -> int:
        return self.files * self.per_file


def _event_time(file_no: int, line_no: int) -> str:
    ts = EPOCH + datetime.timedelta(seconds=file_no, milliseconds=line_no)
    return ts.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]


def _pick_key(rng: random.Random, spec: TrafficSpec) -> str:
    if rng.random() < spec.hot_share:
        k = min(int(rng.paretovariate(spec.pareto_alpha)) - 1, spec.keys - 1)
    else:
        k = rng.randrange(spec.keys)
    return f"k{k}"


def make_traffic(spec: TrafficSpec, seed: int) -> list[list[str]]:
    """Return ``spec.files`` lists of envelope lines, all from ``seed``."""
    if spec.files >= WATERMARK_S:
        raise ValueError("event time would span the 10-minute watermark")
    rng = random.Random(seed)
    last: dict[str, dict] = {}        # key -> last payload content
    sent: list[str] = []               # well-formed lines, for replays
    files = []
    for f in range(spec.files):
        lines = []
        for i in range(spec.per_file):
            r = rng.random()
            if r < spec.bad_line_share:
                lines.append(rng.choice((
                    '{"operation": "update", "primary_key": "k%d"' % i,
                    "<html>gateway timeout %d</html>" % i,
                    '{"operation": "insert", "source": }')))
                continue
            if r < spec.bad_line_share + spec.dup_share and sent:
                lines.append(sent[rng.randrange(max(0, len(sent) - 5_000),
                                                len(sent))])
                continue
            key = _pick_key(rng, spec)
            et = _event_time(f, i)
            if rng.random() < spec.unknown_share:
                op = "unknown"
            elif key not in last:
                op = "insert"
            else:
                op = "delete" if rng.random() < 0.05 else "update"
            if op == "delete":
                content = {"_id": key}
            elif (op == "update" and last.get(key)
                  and rng.random() < spec.same_content_share):
                content = dict(last[key])
            else:
                content = {"_id": key, "name": f"n{rng.randrange(1000)}",
                           "amount": str(rng.randrange(100_000)),
                           "status": rng.choice(("new", "paid", "sent"))}
                if rng.random() < spec.no_id_share:
                    del content["_id"]
            if op != "unknown":
                last[key] = content
            payload = dict(content, updatedAt=et)
            line = json.dumps({
                "operation": op, "source": "orders", "primary_key": key,
                "event_time": et, "trace_id": None if i % 5 == 0 else f"t{f}-{i}",
                "payload_json": json.dumps(payload, sort_keys=True)})
            lines.append(line)
            sent.append(line)
        files.append(lines)
    return files


def expected_counts(files: list[list[str]]) -> dict[str, int]:
    """Exact sink row counts ``MongoToKafka`` writes for ``files``."""
    parse = 0
    seen_events: set[tuple[str, str]] = set()
    seen_content: set[tuple[str, str]] = set()
    out = schema = 0
    for lines in files:
        for line in lines:
            try:
                env = json.loads(line)
            except ValueError:
                parse += 1
                continue
            if env["operation"] == "unknown":
                continue
            ev = (env["primary_key"], env["event_time"])
            if ev in seen_events:
                continue
            seen_events.add(ev)
            payload = json.loads(env["payload_json"])
            content = json.dumps({k: v for k, v in payload.items()
                                  if k not in EXCLUDED_FIELDS}, sort_keys=True)
            if (env["primary_key"], content) in seen_content:
                continue
            seen_content.add((env["primary_key"], content))
            if "_id" in payload:
                out += 1
            else:
                schema += 1
    return {"out": out, "dlq_parse": parse, "dlq_schema": schema}


def write_files(files: list[list[str]], out_dir: str) -> None:
    """Write each file's lines to ``out_dir`` as ``part-NNNNN.json``."""
    os.makedirs(out_dir, exist_ok=True)
    for n, lines in enumerate(files):
        with open(os.path.join(out_dir, f"part-{n:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
