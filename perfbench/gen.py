"""Seeded input generator for the pipeline benchmark.

Every input the benchmark feeds the engine is made here, from a seed and
a handful of traffic dimensions, together with the outcomes the engine
must produce on it. The expectations are computed in plain Python from the
generated rows, independently of the engine, so a defect in the engine
shows up as a failed output check.

Payload shapes follow FIXTURES.md §2 (track / identify / page / alias /
merge envelopes with a JSON ``payload``). Nothing here writes into the
repository's ``.fixtures/`` directory.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
from dataclasses import dataclass, field

T0 = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)

_OBJECTS = [
    "product", "order", "cart", "checkout", "coupon", "wishlist",
    "promotion", "review", "subscription", "invoice", "payment", "shipment",
]
_ACTIONS = ["viewed", "added", "removed", "completed", "shared", "updated"]

# 12 objects x 6 actions: plenty of distinct track names, each a two-word
# lower-case phrase whose warehouse table name is "<object>_<action>"
TRACK_VOCAB = [f"{o.title()} {a.title()}" for a, o in itertools.product(_ACTIONS, _OBJECTS)]

ENVELOPE_TABLES = ("tracks", "identifies", "users", "pages", "screens", "groups", "aliases")
IDENTITY_TABLES = ("rudder_identity_merge_rules", "rudder_identity_mappings")


def table_name(event_name: str) -> str:
    return event_name.strip().replace(" ", "_").lower()


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


class Zipf:
    """Rank sampler with P(rank k) proportional to 1 / k**s over n ranks: a few
    celebrity keys carry most of the traffic."""

    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k**s
            cum.append(acc)
        self._cum, self._total = cum, acc

    def __call__(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cum, rng.random() * self._total)


@dataclass
class Traffic:
    """The traffic dimensions every workload is generated from."""

    batch_events: int
    dup_share: float = 0.10
    n_users: int = 5_000
    user_skew: float = 1.1
    n_track_names: int = 36
    identity_clusters: int = 40
    cluster_size: int = 4


# ---------------------------------------------------------------------------
# warehouse staging batches


def _payload(etype: str, i: int, msg_id: str, user_id: int, anon: str, name: str | None,
             rng: random.Random) -> str:
    ctx = {
        "ip": f"10.0.{i % 256}.1",
        "traits": {"email": f"u{user_id}@example.com", "logins": i % 20},
        "library": {"name": "js", "version": "2.0.0"},
    }
    base = {"messageId": msg_id, "userId": str(user_id), "anonymousId": anon, "context": ctx}
    if etype == "track":
        body = {
            "type": "track", "event": name,
            "properties": {
                # price always fractional, counts always integral: stable inferred types
                "price": rng.randrange(1, 50_000) + 0.25,
                "quantity": 1 + i % 5, "currency": "USD", "shipped": i % 2 == 0,
                "coupon": None,
            },
            "userProperties": {"rating": i % 6},
        }
    elif etype == "identify":
        body = {
            "type": "identify",
            "traits": {
                "email": f"u{user_id}@example.com", "name": f"User {user_id}",
                "plan": "pro" if i % 3 == 0 else None, "age": 20 + i % 50,
                "created_at": f"2023-{1 + i % 12:02d}-15T10:00:00.000Z",
            },
        }
    elif etype == "page":
        body = {"type": "page", "name": "Home",
                "properties": {"url": f"https://example.com/{i}", "title": f"Page {i % 7}"}}
    else:  # alias
        body = {"type": "alias", "previousId": anon}
    return json.dumps({**base, **body}, separators=(",", ":"))


@dataclass
class WarehouseInputs:
    batches: list = field(default_factory=list)  # list of row lists
    expected: list = field(default_factory=list)  # per upload: {table: n}
    components: list = field(default_factory=list)  # per upload: CC count
    users_seen: list = field(default_factory=list)  # per upload: landed user ids
    payload_bytes: list = field(default_factory=list)  # per upload


def warehouse_batches(seed: int, n_uploads: int, t: Traffic) -> WarehouseInputs:
    """``n_uploads`` staging batches for successive uploads into one
    warehouse, with the landed state expected after each of them.

    Rows: (message_id, user_id, anonymous_id, event_type, event_name,
    received_at, sent_at, original_timestamp, payload). About ``dup_share``
    of each batch repeats an earlier event: half within the batch (removed
    by the upload's dedup), half from the previous batch (replaced by the
    MERGE). Identity clusters are planted as merge events spread over the
    uploads, so components join up across uploads.
    """
    rng = random.Random(seed)
    zipf = Zipf(t.n_users, t.user_skew)
    names = TRACK_VOCAB[: t.n_track_names]
    out = WarehouseInputs()
    # landed state: table -> set of primary keys
    landed: dict[str, set] = {n: set() for n in ENVELOPE_TABLES + IDENTITY_TABLES}
    for n in names:
        landed[table_name(n)] = set()
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # each cluster: one email joined to `cluster_size` anonymous ids, its
    # rules dealt round-robin over the uploads
    rules = [
        (f"c{c}@example.com", f"anon-c{c}-{j}")
        for c in range(t.identity_clusters)
        for j in range(t.cluster_size)
    ]
    rng.shuffle(rules)
    seq = 0
    prev: list = []
    for u in range(n_uploads):
        rows: list = []
        my_rules = rules[u::n_uploads]
        n_fresh = t.batch_events - len(my_rules)
        n_dup = int(n_fresh * t.dup_share)
        for _ in range(n_fresh - n_dup):
            seq += 1
            i = seq
            user = zipf(rng)
            anon = f"anon-{user:05d}"
            r = rng.random()
            etype = "track" if r < 0.62 else "identify" if r < 0.80 else "page" if r < 0.96 else "alias"
            name = names[zipf(rng) % len(names)] if etype == "track" else None
            msg = f"msg-{seed}-{i:08d}"
            recv = T0 + dt.timedelta(seconds=i)
            rows.append((msg, user, anon, etype, name, recv, recv - dt.timedelta(seconds=2),
                         recv - dt.timedelta(seconds=5),
                         _payload(etype, i, msg, user, anon, name, rng)))
        for e1, a2 in my_rules:
            seq += 1
            msg = f"msg-{seed}-{seq:08d}"
            recv = T0 + dt.timedelta(seconds=seq)
            payload = json.dumps({
                "type": "merge", "messageId": msg,
                "mergeProperties": [{"type": "email", "value": e1},
                                    {"type": "anonymousId", "value": a2}],
            }, separators=(",", ":"))
            rows.append((msg, None, "", "merge", None, recv, recv, recv, payload))
        fresh = list(rows)
        for k in range(n_dup):
            src = prev if (k % 2 and prev) else fresh
            rows.append(src[rng.randrange(len(src))])
        rng.shuffle(rows)
        out.batches.append(rows)
        out.payload_bytes.append(sum(len(r[8]) for r in rows))
        prev = fresh
        for r in rows:
            msg, user, _, etype, name, *_ = r
            if etype == "track":
                landed["tracks"].add(msg)
                landed[table_name(name)].add(msg)
            elif etype == "identify":
                landed["identifies"].add(msg)
                landed["users"].add(user)
            elif etype == "page":
                landed["pages"].add(msg)
            elif etype == "alias":
                landed["aliases"].add(msg)
        for e1, a2 in my_rules:
            landed["rudder_identity_merge_rules"].add(("email", e1, "anonymousId", a2))
            landed["rudder_identity_mappings"].update({("email", e1), ("anonymousId", a2)})
            for v in (e1, a2):
                parent.setdefault(v, v)
            parent[find(e1)] = find(a2)
        out.expected.append({k: len(v) for k, v in landed.items()})
        out.components.append(len({find(v) for v in parent}))
        out.users_seen.append(set(landed["users"]))
    return out


# ---------------------------------------------------------------------------
# processor batches + workspace config


def workspace_config(seed: int, n_sources: int = 16) -> dict:
    """A workspace-config document: ``n_sources`` sources with 2-6
    destinations each, one disabled source, one disabled destination,
    restricted ``supportedMessageTypes`` on most destinations and
    consent categories on some."""
    rng = random.Random(seed * 7919 + 1)
    type_sets = [
        None, ["track"], ["track", "identify"], ["track", "identify", "page"],
        ["identify", "page", "screen"],
    ]
    sources = []
    for s in range(n_sources):
        dests = []
        for d in range(rng.randint(2, 6)):
            smt = rng.choice(type_sets)
            ddef_cfg = {} if smt is None else {"supportedMessageTypes": smt}
            consents = rng.choice([[], [], ["ads"], ["analytics"], ["ads", "marketing"]])
            cfg = {"consentManagement": [{
                "provider": "oneTrust", "resolutionStrategy": "or",
                "consents": [{"consent": c} for c in consents],
            }]} if consents else {}
            dests.append({
                "id": f"d-{s}-{d}", "name": f"dest {s}/{d}",
                "enabled": not (s == 1 and d == 0),
                "destinationDefinition": {"name": "WEBHOOK", "config": ddef_cfg},
                "config": cfg,
            })
        sources.append({
            "id": f"src-{s}", "name": f"source {s}", "writeKey": f"wk{s}",
            "enabled": s != 0, "destinations": dests,
        })
    return {"workspaceId": f"ws-{seed}", "sources": sources}


def _routes(config: dict) -> dict:
    """source id -> [(consent categories, supported types or None)] for the
    enabled destinations of enabled sources."""
    out: dict = {}
    for s in config["sources"]:
        if not s["enabled"]:
            continue
        for d in s["destinations"]:
            if not d["enabled"]:
                continue
            smt = d["destinationDefinition"]["config"].get("supportedMessageTypes")
            cm = d["config"].get("consentManagement") or []
            cats = {c["consent"] for p in cm for c in p["consents"]}
            out.setdefault(s["id"], []).append((cats, None if smt is None else set(smt)))
    return out


PROCESSOR_TYPES = ["track"] * 6 + ["identify"] * 2 + ["page", "screen", "group", "alias"]
DENIED = [[], [], [], ["ads"], ["analytics"], ["marketing"]]


def processor_batch(seed: int, t: Traffic, config: dict, suppressed: set) -> tuple[dict, dict]:
    """One narrow-envelope processor batch as column lists, plus its six
    expected ``stage_counts``."""
    rng = random.Random(seed)
    zipf = Zipf(t.n_users, t.user_skew)
    n = t.batch_events
    n_dup = int(n * t.dup_share)
    cols: dict = {k: [] for k in ("message_id", "user_id", "event_type", "received_at",
                                  "source_id", "denied_consent_ids")}
    for i in range(n - n_dup):
        cols["message_id"].append(f"m-{seed}-{i:08d}")
        cols["user_id"].append(zipf(rng))
        cols["event_type"].append(rng.choice(PROCESSOR_TYPES))
        cols["received_at"].append(T0 + dt.timedelta(milliseconds=i))
        cols["source_id"].append(f"src-{rng.randrange(16)}")
        cols["denied_consent_ids"].append(rng.choice(DENIED))
    for _ in range(n_dup):
        j = rng.randrange(n - n_dup)
        for k, v in cols.items():
            # a resend: same message, arriving later
            v.append(v[j] + dt.timedelta(seconds=30) if k == "received_at" else v[j])
    routes = _routes(config)
    exp = {"1_input": n, "2_deduped": n - n_dup}
    kept = [i for i in range(n - n_dup) if cols["user_id"][i] not in suppressed]
    exp["3_suppressed"] = len(kept)
    fanned = delivered = 0
    for i in kept:
        denied = set(cols["denied_consent_ids"][i])
        et = cols["event_type"][i]
        for cats, smt in routes.get(cols["source_id"][i], ()):
            if denied & cats:
                continue
            fanned += 1
            delivered += smt is None or et in smt
    exp.update({"4_fanned_out": fanned, "5_jobs": fanned, "6_delivered": delivered})
    return cols, exp


def suppressed_users(seed: int, t: Traffic, share: float = 0.01) -> set:
    """About ``share`` of the user ids, never the top celebrity ranks."""
    rng = random.Random(seed * 31 + 7)
    return set(rng.sample(range(10, t.n_users), int(t.n_users * share)))


# ---------------------------------------------------------------------------
# streaming event files


STREAM_NAMES = TRACK_VOCAB[:2]


def stream_files(seed: int, n_files: int, file_events: int, late_share: float = 0.02,
                 first_seq: int = 0) -> tuple[list, set]:
    """``n_files`` JSON-lines event files of ``file_events`` events each.

    About ``late_share`` (at least one) of the events in every file after
    the first two re-send an event from an earlier file with an old
    ``received_at``: half 40 days older, beyond the 30-day dedup watermark
    (dropped by the watermark), half one hour older (dropped by the dedup
    state). Returns (list of file texts, set of distinct message ids
    sent)."""
    rng = random.Random(seed * 104_729 + first_seq)
    files, sent, ids = [], [], set()
    seq = first_seq
    for f in range(n_files):
        lines = []
        n_late = max(1, round(file_events * late_share)) if f >= 2 else 0
        for _ in range(file_events - n_late):
            seq += 1
            user = rng.randrange(2_000)
            anon = f"anon-{user:05d}"
            r = rng.random()
            etype = "track" if r < 0.7 else "identify" if r < 0.85 else "page"
            name = STREAM_NAMES[rng.randrange(len(STREAM_NAMES))] if etype == "track" else None
            msg = f"s-{seed}-{seq:08d}"
            recv = T0 + dt.timedelta(seconds=seq)
            row = {
                "message_id": msg, "user_id": user, "anonymous_id": anon,
                "event_type": etype, "event_name": name, "received_at": _iso(recv),
                "sent_at": _iso(recv - dt.timedelta(seconds=2)),
                "original_timestamp": _iso(recv - dt.timedelta(seconds=5)),
                "payload": _payload(etype, seq, msg, user, anon, name, rng),
            }
            lines.append(row)
            ids.add(msg)
        for k in range(n_late):
            old = dict(sent[rng.randrange(len(sent))])
            age = dt.timedelta(days=40) if k % 2 else dt.timedelta(hours=1)
            recv = dt.datetime.strptime(old["received_at"], "%Y-%m-%dT%H:%M:%S.%fZ")
            old["received_at"] = _iso(recv.replace(tzinfo=dt.timezone.utc) - age)
            lines.append(old)
        sent.extend(lines)
        files.append("".join(json.dumps(r, separators=(",", ":")) + "\n" for r in lines))
    return files, ids


def write_text(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
