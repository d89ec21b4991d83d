"""Seeded input generators for the benchmark workloads.

Everything here is pure Python (stdlib ``random``): no Spark job runs
while inputs are made, so generation time is the same whatever state the
engine is in. The same
seed always gives the same inputs.

Each generator also returns the *expected* results the workload checks
the program's outputs against.
"""

from __future__ import annotations

import json
import random
from collections import Counter, defaultdict

# ---------------------------------------------------------------------------
# realtime_pipeline: behavior-log events and the topic_db changelog

#: 2022-07-26 00:00:00 UTC, the reference fixtures' day
T0_MS = 1_658_793_600_000
#: each step's events cover this much event time; steps never overlap, so
#: every device's events arrive in time order across steps
STEP_SPAN_MS = 4 * 3600 * 1000
#: the reference renders dates at UTC+8 (DateFormatUtil.java:21)
DAY_OFFSET_MS = 8 * 3600 * 1000
DAY_MS = 86_400_000

PAGES = ["home", "search", "good_list", "good_detail", "cart", "trade", "payment", "mine"]
N_MIDS = 300
N_USERS = 120
USER_LEVELS = ["1", "2", "3", "4"]
MALFORMED_SHARE = 0.02

#: the routing config (``streaming.router`` rows): two dim tables routed,
#: one changelog table left unrouted so the router must drop it
DIM_CONFIG = [
    ("user_info", "dim_user_info", "id,name,user_level", "id", None),
    ("base_trademark", "dim_base_trademark", "id,tm_name", "id", None),
]
DIM_KEPT_TYPES = ("insert", "update", "bootstrap-insert")
ROUTES = {src: (sink, cols.split(",")) for src, sink, cols, _pk, _ext in DIM_CONFIG}


def event_day(ts: int) -> int:
    """Day number of an event at UTC+8 (the ADS query's grouping key)."""
    return (ts + DAY_OFFSET_MS) // DAY_MS


class RealtimeInputs:
    """Seeded behavior-log batches and topic_db changelogs, one per step,
    with the cumulative expected DWD, UV, DIM and ADS results."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.step = 0
        # cumulative expectations
        self.counts: Counter = Counter()
        self.uv_keys: set[tuple[str, int]] = set()
        self.page_views: list[tuple[str, str, str, int]] = []  # (mid, uid, page, day)
        self.dims: dict[str, dict[str, dict[str, str]]] = defaultdict(dict)

    # -- behavior log ----------------------------------------------------
    def _session(self, mid: str, uid: str, t: int) -> tuple[list[dict], int]:
        rng = self.rng
        common = {"mid": mid, "is_new": rng.choice(["0", "1"]), "uid": uid, "ch": "web"}
        recs = []
        if rng.random() < 0.3:
            rec = {"common": common, "start": {"entry": "icon", "loading_time": rng.randint(100, 5000)}, "ts": t}
            if rng.random() < 0.1:
                rec["err"] = {"error_code": rng.randint(1000, 1100), "msg": "start failed"}
            recs.append(rec)
            t += rng.randint(500, 3000)
        last = None
        for _ in range(rng.randint(1, 5)):
            page = rng.choice(PAGES)
            rec = {
                "common": common,
                "page": {"page_id": page, "during_time": rng.randint(100, 20000)},
                "ts": t,
            }
            if last is not None:
                rec["page"]["last_page_id"] = last
            if rng.random() < 0.5:
                rec["display"] = [
                    {"item": str(rng.randint(1, 500)), "item_type": "sku_id", "pos_id": rng.randint(1, 10)}
                    for _ in range(rng.randint(1, 3))
                ]
            if rng.random() < 0.3:
                rec["actions"] = [
                    {"item": str(rng.randint(1, 500)), "item_type": "sku_id", "action_id": rng.choice(["cart", "favor", "get_coupon"])}
                    for _ in range(rng.randint(1, 2))
                ]
            if rng.random() < 0.03:
                rec["err"] = {"error_code": rng.randint(1000, 1100), "msg": "page error"}
            recs.append(rec)
            last = page
            # gaps straddle the 10 s bounce window, so ST4 sees both cases
            t += rng.randint(1000, 20000)
        return recs, t

    def _expect_log(self, rec: dict) -> None:
        c = self.counts
        c["corrected"] += 1
        if "err" in rec:
            c["err"] += 1
        if "start" in rec:
            c["start"] += 1
            return
        c["page"] += 1
        c["display"] += len(rec.get("display", []))
        c["action"] += len(rec.get("actions", []))
        page = rec["page"]
        day = event_day(rec["ts"])
        mid = rec["common"]["mid"]
        self.page_views.append((mid, rec["common"]["uid"], page["page_id"], day))
        if "last_page_id" not in page:
            self.uv_keys.add((mid, day))

    def log_lines(self, n: int) -> list[bytes]:
        """One step's ``n`` behavior-log POST bodies, about 2 % malformed."""
        rng = self.rng
        base = T0_MS + self.step * STEP_SPAN_MS
        lines: list[bytes] = []
        # each device's sessions follow each other in time
        mid_clock: dict[str, int] = {}
        while len(lines) < n:
            if rng.random() < MALFORMED_SHARE:
                self.counts["dirty"] += 1
                lines.append(rng.choice([
                    b'{"common": {"mid": "mid_%d", "is_new": ' % rng.randint(0, N_MIDS),
                    b"not-json %d" % rng.randint(0, 10**6),
                ]))
                continue
            mid = f"mid_{rng.randrange(N_MIDS)}"
            uid = str(rng.randrange(N_USERS))
            start = max(mid_clock.get(mid, base), base + rng.randrange(STEP_SPAN_MS // 2))
            recs, end = self._session(mid, uid, start)
            if end >= base + STEP_SPAN_MS:
                continue  # keep steps disjoint in event time
            mid_clock[mid] = end + 1000
            for rec in recs:
                self._expect_log(rec)
                lines.append(json.dumps(rec, separators=(",", ":")).encode())
        return lines

    # -- topic_db changelog ----------------------------------------------
    def changelog_lines(self) -> list[str]:
        """One step's topic_db changelog: inserts, updates and deletes
        over the two routed dim tables, plus unrouted rows. At most one
        change per key per step, so the last writer is the later step."""
        rng = self.rng
        lines = []
        ts = T0_MS + self.step * STEP_SPAN_MS

        def emit(table: str, typ: str, data: dict) -> None:
            lines.append(json.dumps({"database": "gmall", "table": table, "type": typ, "data": data, "ts": ts}))
            rule = ROUTES.get(table)
            if typ in DIM_KEPT_TYPES and rule is not None:
                sink, cols = rule
                self.dims[sink][data["id"]] = {k: data[k] for k in cols}

        if self.step == 0:
            for i in range(N_USERS):
                emit("user_info", "bootstrap-insert", self._user(str(i)))
        else:
            for i in rng.sample(range(N_USERS), 40):
                # deletes are not a kept type: DIM state must not change
                typ = "delete" if rng.random() < 0.1 else "update"
                emit("user_info", typ, self._user(str(i)))
        for i in rng.sample(range(50), 10):
            tm = {"id": str(i), "tm_name": f"tm_{rng.randrange(1000)}", "logo_url": "x.png"}
            emit("base_trademark", "update" if str(i) in self.dims["dim_base_trademark"] else "insert", tm)
        for _ in range(5):  # no routing rule: dropped by the router
            emit("order_info", "insert", {"id": str(rng.randrange(10**6)), "total": "1.0"})
        rng.shuffle(lines)
        return lines

    def _user(self, i: str) -> dict:
        return {
            "id": i,
            "name": f"user_{i}_{self.rng.randrange(100)}",
            "user_level": self.rng.choice(USER_LEVELS),
            "email": "hidden@example.com",  # not whitelisted: must not reach the dim
        }

    def advance(self) -> None:
        self.step += 1

    # -- expected answers -------------------------------------------------
    def expected_ads(self) -> dict[tuple[int, str, str], tuple[int, int]]:
        """(day, page_id, user_level) -> (pv, uv) over every step so far,
        joined to the current last-writer user dim."""
        users = self.dims["dim_user_info"]
        pv: Counter = Counter()
        uv: dict[tuple, set] = defaultdict(set)
        for mid, uid, page, day in self.page_views:
            level = users[uid]["user_level"] if uid in users else "none"
            pv[(day, page, level)] += 1
            uv[(day, page, level)].add(mid)
        return {k: (n, len(uv[k])) for k, n in pv.items()}


#: PV/UV per page per day (UTC+8), joined to the user dim — the ADS answer
#: every realtime step reads back
ADS_SQL = """
SELECT CAST(FLOOR((p.ts + {off}) / {day}) AS BIGINT) AS day,
       p.page.page_id AS page_id,
       COALESCE(u.user_level, 'none') AS user_level,
       COUNT(*) AS pv,
       COUNT(DISTINCT p.common.mid) AS uv
FROM dwd_traffic_page_log p
LEFT JOIN dim_user_info u ON p.common.uid = u.id
GROUP BY 1, 2, 3
""".format(off=DAY_OFFSET_MS, day=DAY_MS)


# ---------------------------------------------------------------------------
# lake_ingest: document drops

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
] + [f"w{i}" for i in range(170)]
BOILERPLATE = "cookie banner accept all cookies terms of service privacy notice"


class DocumentDrops:
    """Seeded document drops: about 75 % new documents, 10 % exact
    re-crawls of earlier ones, 10 % near-duplicates and 5 %
    boilerplate-prefixed documents. Doc ids rise across drops."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.texts: list[str] = []  # every distinct text dropped so far
        self.seen: set[str] = set()

    def _fresh_text(self) -> str:
        rng = self.rng
        while True:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(20, 60)))
            if text not in self.seen:
                return text

    def drop(self, n: int) -> tuple[list[str], dict]:
        """A drop of ``n`` documents as JSON lines, plus its doc-id range
        and the ids planted as re-crawls."""
        rng = self.rng
        lines, recrawl_ids = [], []
        first_id = self.next_id
        for _ in range(n):
            r = rng.random()
            if r < 0.10 and self.texts:
                text = rng.choice(self.texts)
                recrawl_ids.append(self.next_id)
            else:
                if r < 0.20 and self.texts:
                    words = rng.choice(self.texts).split()
                    words[rng.randrange(len(words))] = rng.choice(VOCAB)
                    text = " ".join(words) + " dup"
                elif r < 0.25:
                    text = f"{BOILERPLATE} {self._fresh_text()}"
                else:
                    text = self._fresh_text()
                if text in self.seen:  # a near-dup edit can land on a known text
                    recrawl_ids.append(self.next_id)
                else:
                    self.seen.add(text)
                    self.texts.append(text)
            lines.append(json.dumps({"doc_id": self.next_id, "text": text}))
            self.next_id += 1
        return lines, {"docs": n, "ids": (first_id, self.next_id - 1), "recrawl_ids": recrawl_ids}
