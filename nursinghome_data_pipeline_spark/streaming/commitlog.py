"""Committed-batch record of the exactly-once streaming sinks.

Both foreachBatch sinks (:mod:`.ingest_stream` upsert-merge,
:mod:`.ingest_dedup` dedup-ingest) get at-least-once delivery from
Spark with a stable ``batch_id`` and make it exactly-once by keeping
ONE small JSON record per target::

    {"batch_id": N, "degen": [payload md5, ...]}

``batch_id`` is the last committed batch. Spark's micro-batch
execution hands ``foreachBatch`` consecutive ids and only ever
re-delivers the last, uncommitted one, so "already committed" is
``batch_id <= record["batch_id"]`` — one small read, no listing.
``degen`` is the dedup-ingest's set of degenerate vector payloads
accepted so far (empty for the upsert sink); it rides the record, so
an uncommitted run's entries are never visible to its replay.

The record is committed as the next generation of ``target/_commit``
through :func:`fs.commit_generation` — the same atomic pointer flip
every index build and upsert merge uses, so no crash leaves a torn or
half-visible record. The leading underscore keeps the directory out of
parquet discovery; it sits beside ``target/data``, not inside it.
Single writer per target (the sinks' contract).
"""

from __future__ import annotations

import json

from .. import fs

#: generational directory under the target holding the record
RECORD_DIR = "_commit"
RECORD_FILE = "record.json"


def read_record(target_dir: str) -> dict:
    """The committed record of ``target_dir``; ``{"batch_id": -1,
    "degen": []}`` when nothing was ever committed. A malformed record
    raises ``ValueError`` naming its path — never a silent replay."""
    gen = fs.active_generation(fs.join(target_dir, RECORD_DIR))
    if gen is None:
        return {"batch_id": -1, "degen": []}
    path = fs.join(gen, RECORD_FILE)
    try:
        rec = json.loads(fs.read_text(path))
        return {"batch_id": int(rec["batch_id"]), "degen": list(rec["degen"])}
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(f"{path}: malformed commit record ({e})") from e


def commit_record(target_dir: str, batch_id: int, degen=()) -> None:
    """Commit ``batch_id`` (and the full degenerate-payload set) — the
    LAST step of a batch, so a committed record implies every prior
    effect completed."""
    text = json.dumps({"batch_id": int(batch_id), "degen": sorted(degen)})

    def write(new_dir: str) -> None:
        fs.makedirs(new_dir)
        fs.write_text(fs.join(new_dir, RECORD_FILE), text)

    fs.commit_generation(fs.join(target_dir, RECORD_DIR), write)
