"""Seeded input generation for the routing workloads.

The program under test sees only the files written here.  Every record
is a Kinesis envelope row (``ENVELOPE_SCHEMA`` columns) whose
base64-encoded payload was built to land in one known channel, so the
generator's ``Truth`` is the exact per-channel count the routing engine
must produce: routed per schema, unknown, and dead-letter per reason.

The seed sets the partition-key skew, the field values, the record
order inside each shard file, and where the bad records sit.
"""

from __future__ import annotations

import base64
import copy
import json
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

from tests import fixtures as fx

ENVELOPE_ID = fx.STREAM_SCHEMA_ID
CREATE_ID = fx.PRODUCT_CREATE_ID
PURCHASE_ID = fx.PRODUCT_PURCHASE_ID
UNKNOWN_ID = fx.UNREGISTERED_ID
CATEGORIES = fx.PRODUCT_CREATE_SCHEMA["properties"]["data"]["properties"]["category"]["enum"]

# Dead-letter reasons, spelled as the engine spells them
# (kinesis_handler_spark.routing.engine.REASON_*); duplicated here so the
# ground truth does not come from the code it checks.
MISSING_DATA = "missing-data"
BAD_BASE64 = "undecodable-base64"
BAD_JSON = "unparseable-json"
NO_SCHEMA = "missing-schema"
WRONG_SCHEMA = "wrong-envelope-schema"
ENVELOPE_INVALID = "envelope-invalid"
DATA_INVALID = "data-invalid"
REASONS = (MISSING_DATA, BAD_BASE64, BAD_JSON, NO_SCHEMA, WRONG_SCHEMA,
           ENVELOPE_INVALID, DATA_INVALID)


def fast_schemas() -> tuple[dict, list[dict]]:
    """The test suite's envelope and data schemas (``tests/fixtures.py``),
    all inside the JVM fast-path keyword set."""
    return copy.deepcopy(fx.ENVELOPE_JSON_SCHEMA), [
        copy.deepcopy(fx.PRODUCT_CREATE_SCHEMA), copy.deepcopy(fx.PRODUCT_PURCHASE_SCHEMA)]


def python_schemas() -> tuple[dict, list[dict]]:
    """The same documents with keywords only the jsonschema tier can
    check (``additionalProperties: false``, ``oneOf``), so every row's
    envelope and data validation crosses the Arrow boundary."""
    envelope, (create, purchase) = fast_schemas()
    envelope["additionalProperties"] = False
    create["properties"]["data"]["additionalProperties"] = False
    create["properties"]["data"]["properties"]["category"] = {
        "type": "string",
        "oneOf": [{"enum": CATEGORIES[:2]}, {"const": CATEGORIES[2]}],
    }
    purchase["properties"]["data"]["additionalProperties"] = False
    return envelope, [create, purchase]


@dataclass
class Truth:
    """Exact channel counts the engine must produce for the records."""

    records: int = 0
    routed: Counter = field(default_factory=Counter)
    unknown: int = 0
    dead_letter: Counter = field(default_factory=Counter)

    def as_dict(self) -> dict:
        return {
            "records": self.records,
            "routed": dict(sorted(self.routed.items())),
            "unknown": self.unknown,
            "dead_letter": dict(sorted(self.dead_letter.items())),
        }


def _b64(obj) -> str:
    raw = obj if isinstance(obj, bytes) else json.dumps(obj).encode()
    return base64.b64encode(raw).decode("ascii")


class RecordMaker:
    """Builds envelope rows for one channel mix.

    ``mix`` maps a channel label (``routed``, ``unknown`` or a reason) to
    its share of records; the rest are routed, split evenly between the
    two data schemas.  ``keys`` partition keys are drawn with Zipf skew
    whose exponent comes from the seed.
    """

    def __init__(self, rng: random.Random, mix: dict[str, float], keys: int = 256):
        self.rng = rng
        self.mix = mix
        self.skew = 0.6 + 0.8 * rng.random()
        weights = [1.0 / (k + 1) ** self.skew for k in range(keys)]
        total = sum(weights)
        self._cum, acc = [], 0.0
        for w in weights:
            acc += w / total
            self._cum.append(acc)
        self._seq = 10_000_000 + rng.randrange(1_000_000)

    def _key(self) -> str:
        u = self.rng.random()
        lo, hi = 0, len(self._cum) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self._cum[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return f"pk-{lo}"

    def _payload(self, data_schema: str, envelope: str = ENVELOPE_ID, **data) -> dict:
        return {"schema": envelope, "origin": "perfbench",
                "data": {"schema": data_schema, **data}}

    def _valid_data(self, rid: str) -> tuple[str, dict]:
        rng = self.rng
        if rng.random() < 0.5:
            return CREATE_ID, {"id": rid, "category": rng.choice(CATEGORIES),
                               "price": round(rng.uniform(0, 500), 2)}
        return PURCHASE_ID, {"id": rid, "quantity": rng.randint(1, 100)}

    def channels(self, n: int) -> list[str]:
        """Exactly ``round(share * n)`` records per bad channel, at
        seed-chosen positions; ``routed`` fills the rest."""
        labels = []
        for label, share in self.mix.items():
            labels += [label] * round(share * n)
        labels += ["routed"] * (n - len(labels))
        self.rng.shuffle(labels)
        return labels

    def row(self, label: str, stamp_ms: int, truth: Truth) -> dict:
        """One envelope row landing in ``label``'s channel."""
        rng = self.rng
        # Kinesis sequence numbers are decimal strings compared as
        # numbers; they grow by varying strides, and crossing a power of
        # ten makes lexicographic order differ from numeric order.
        self._seq += rng.randint(1, 9_000_000)
        rid = f"r-{self._seq}"
        data: str | None
        if label == "routed":
            sid, fields = self._valid_data(rid)
            data = _b64(self._payload(sid, **fields))
            truth.routed[sid] += 1
        elif label == "unknown":
            data = _b64(self._payload(UNKNOWN_ID, id=rid))
            truth.unknown += 1
        else:
            data = self._bad(label, rid)
            truth.dead_letter[label] += 1
        truth.records += 1
        shard = rng.randrange(4)
        return {
            "partitionKey": self._key(),
            "sequenceNumber": str(self._seq),
            "data": data,
            "approximateArrivalTimestamp": _iso(stamp_ms),
            "eventID": f"shardId-{shard:012d}:{self._seq}",
            "eventSource": "aws:kinesis",
            "eventSourceARN": "arn:aws:kinesis:us-west-2:000000000000:stream/perfbench",
            "awsRegion": "us-west-2",
        }

    def _bad(self, reason: str, rid: str) -> str | None:
        if reason == MISSING_DATA:
            return None
        if reason == BAD_BASE64:
            return "!!!not-base64!!!"
        if reason == BAD_JSON:
            return _b64(b'{"schema": "' + rid.encode() + b'", broken')
        if reason == NO_SCHEMA:
            return _b64({"origin": "perfbench", "data": {"schema": CREATE_ID}})
        if reason == WRONG_SCHEMA:
            sid, fields = self._valid_data(rid)
            return _b64(self._payload(sid, envelope="com.other/stream/0-0-1", **fields))
        if reason == ENVELOPE_INVALID:
            # only an envelope with additionalProperties:false rejects this
            sid, fields = self._valid_data(rid)
            doc = self._payload(sid, **fields)
            doc["debug"] = True
            return _b64(doc)
        if reason == DATA_INVALID:
            if self.rng.random() < 0.5:
                return _b64(self._payload(CREATE_ID, id=rid, category="Hats"))
            return _b64(self._payload(PURCHASE_ID, id=rid, quantity=0))
        raise ValueError(reason)


def _iso(ms: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + f".{ms % 1000:03d}Z"


# Channel mixes.  The backlog mix matches the fast-path schemas (no
# envelope-invalid records are possible there); the Python mix spreads
# a quarter of the records over all seven reasons.
BACKLOG_MIX = {BAD_JSON: 0.02, "unknown": 0.02}
PYTHON_MIX = {"unknown": 0.02, **{r: 0.25 / len(REASONS) for r in REASONS}}


def write_backlog(path: str, seed: int, n: int, shards: int, mix: dict) -> Truth:
    """``n`` records split over ``shards`` JSON-lines files, one per
    shard, as a drained Kinesis backlog would arrive."""
    os.makedirs(path, exist_ok=True)
    rng = random.Random(seed)
    maker = RecordMaker(rng, mix)
    truth = Truth()
    base_ms = 1_700_000_000_000
    rows = [maker.row(label, base_ms + i, truth)
            for i, label in enumerate(maker.channels(n))]
    rng.shuffle(rows)  # per-key order inside a file is not sequence order
    per = -(-n // shards)
    for s in range(shards):
        with open(os.path.join(path, f"shard-{s:04d}.json"), "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows[s * per:(s + 1) * per])
    return truth

