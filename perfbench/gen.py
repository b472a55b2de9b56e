"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical rows, so two runs of one seed measure the same
inputs. Nothing here touches Spark.

Three input families:

- API sessions: the nested session entities in the shape of
  ``pipeline/fixtures.py`` ``_DDL["sessions"]`` (tags with matches, scores,
  reviewers, categories, comments, summaries), ``per_day`` of them a day;
- the analytics warehouse: TPC-H-shaped ``region .. lineitem`` plus an
  ``events`` clickstream, in the column types of the catalog's testdata;
- the curation corpus: documents over a fixed 30-word vocabulary with
  stated exact-duplicate, near-duplicate and contamination shares.
"""

from __future__ import annotations

import os
import random
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# API sessions
# ---------------------------------------------------------------------------

FIRST_DAY = date(2024, 6, 1)
N_AGENTS, N_GROUPS, N_USERS, N_CATEGORIES = 40, 6, 15, 20
N_SCORECARDS, N_TAGS = 3, 40


def day_iso(i: int) -> str:
    return (FIRST_DAY + timedelta(days=i)).isoformat()


def _guid(seed: int, n: int) -> str:
    h = f"{(seed & 0xFFFFFFFF):08x}{n:024x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _ts(d: str, h: int, m: int, s: int = 0, us: int = 0) -> str:
    return f"{d}T{h:02d}:{m:02d}:{s:02d}.{us:06d}"


def day_sessions(seed: int, day: int, per_day: int) -> list[dict]:
    """The sessions that start on day ``day``, in publication order."""
    rng = random.Random(seed * 1_000_003 + day)
    d = day_iso(day)
    sessions = []
    for k in range(per_day):
        n = day * 1_000_000 + k
        sid = _guid(seed, n)
        hour, minute = rng.randrange(24), rng.randrange(60)
        agent = rng.randrange(1, N_AGENTS + 1)
        has_scores = rng.random() < 0.9
        reviewed = rng.random() < 0.35
        n_tags = rng.randrange(3)
        tags = [{"id": t, "match": [{
            "score": round(rng.random(), 4),
            "matched_corpus_text": f"corpus {k} {t}", "is_agent": rng.random() < 0.5,
            "transcript_id": k * 100 + t, "matched_query_text": f"query {t}",
            "meta": f'{{"m": {t}}}'}]}
            for t in rng.sample(range(1, N_TAGS + 1), n_tags)]
        scores = None
        if has_scores:
            scores = []
            if reviewed:
                sc = rng.randrange(1, N_SCORECARDS + 1)
                scores.append({
                    "scorecard_id": sc, "reviewer_id": rng.randrange(1, N_USERS + 1),
                    "point_scores": [{"scorecard_point_id": (sc * 100 + 1) * 10 + p,
                                      "score": rng.randrange(6),
                                      "comment": "c" if p == 1 else None}
                                     for p in range(1, 4)]})
        duration = 30.0 + rng.randrange(1200)
        silence = float(rng.randrange(30))
        wa, wc = rng.randrange(20, 400), rng.randrange(20, 400)
        sessions.append({
            "id": sid, "type": rng.choice(("call", "chat", "email", "ticket")),
            "caller_id": f"+1222{rng.randrange(5000):07d}",
            "source": f"src{rng.randrange(5)}",
            "language_code": rng.choice(("en", "de", "es")), "asr_size": "base",
            "filename": f"f{n}.wav", "destination_id": f"d{rng.randrange(9)}",
            "start_dt": _ts(d, hour, minute, rng.randrange(60), rng.randrange(1_000_000)),
            "end_dt": _ts(d, hour, 59), "created_at": _ts(d, hour, 0),
            "updated_at": _ts(d, hour, 1),
            "direction": rng.choice(("inbound", "outbound")),
            "agent_id": agent, "group_id": (agent % N_GROUPS) + 1,
            "duration": duration, "silence": silence,
            "silence_percent": silence / duration,
            "agent_channel": rng.randrange(2),
            "comments_count": 1 if k % 6 == 0 else 0,
            "default_scorecard_id": rng.randrange(1, N_SCORECARDS + 1),
            "average_score": round(rng.random(), 4) if has_scores else None,
            "is_processed": True,
            "overlaps_data": {"client": round(rng.random(), 3),
                              "agent": round(rng.random(), 3)},
            "duration_details": {"0": duration / 2, "1": duration / 2},
            "score_details": {
                "automated_score": round(rng.random(), 4) if k % 5 else None,
                "manual_score": round(rng.random(), 4) if reviewed else None},
            "queue_name": f"q{rng.randrange(3)}",
            "campaign_name": f"camp{rng.randrange(4)}",
            "term_reason": "completed", "waiting_time": rng.randrange(120),
            "fcr": rng.randrange(2), "csi": rng.randrange(1, 6),
            "nps": rng.randrange(11), "list_id": rng.randrange(13),
            "words_count_agent": wa, "words_count_client": wc,
            "words_count_both": wa + wc,
            "caller_prev_session_id": (_guid(seed, n - 7) if k >= 7 and k % 10 == 0
                                       else None),
            "additional_info": f'{{"ticket_system_id": "{n}"}}',
            "tags": tags,
            "categories": ([{"id": rng.randrange(1, N_CATEGORIES + 1),
                             "is_verified": rng.random() < 0.5}]
                           if rng.random() < 0.8 else []),
            "reviewers": ([{"id": rng.randrange(1, N_USERS + 1),
                            "last_reviewed_at": _ts(d, 23, 0, 44, 947_975)}]
                          if reviewed else []),
            "scores": scores,
            "crm_statuses": ([{"crm_status": f"status-{rng.randrange(4)}"}]
                             if rng.random() < 0.8 else []),
            "comments": ([{"author_id": rng.randrange(1, N_USERS + 1),
                           "text": f"comment {n}", "created_at": _ts(d, hour, 5),
                           "updated_at": _ts(d, hour, 6)}]
                         if k % 6 == 0 else []),
            "summary": ([{"text": f"summary of session {n}",
                          "created_at": _ts(d, hour, 7),
                          "updated_at": _ts(d, hour, 8)}]
                        if k % 2 == 0 else []),
            "emotions": "-", "sentiments": "-", "activity": "-",
            "compliance_matches": "-", "ptp_kept_prediction": "-",
            "comment_author_ids": [1], "category_ids": [1],
            "low_quality": False, "events_call_id": f"e{n}"})
    return sessions


def session_transcripts(seed: int, sessions: list[dict]) -> list[dict]:
    """Utterance arrays for the sessions, in ``_DDL["transcripts"]`` shape:
    every seventh session has none (a fetch gap), the rest three to six
    utterances of 5-40 words, so transcripts stay bounded per session."""
    rng = random.Random(seed ^ 0x7A5C)
    rows = []
    for k, s in enumerate(sessions):
        if k % 7 == 0:
            continue
        ach, t, utts = s["agent_channel"], 0.0, []
        for u in range(rng.randrange(3, 7)):
            ch = ach if u % 2 == 0 else 1 - ach
            n = rng.randrange(5, 41)
            utts.append({"channel": ch, "start": t, "end": t + n / 2.0,
                         "text": " ".join(rng.choice(VOCAB) for _ in range(n))})
            t += n / 2.0 + rng.randrange(4)
        rows.append({"session_id": s["id"], "agent_channel": ach, "utterances": utts})
    return rows


def dimensions(seed: int) -> dict[str, list[dict]]:
    """The API's dimension entities (agents, groups, labels, categories,
    scorecards, tags, users) in the ``_DDL`` shapes, over the id ranges the
    sessions reference; scorecard point ids are ``(sc*100+c)*10+p``."""
    rng = random.Random(seed ^ 0xD1)
    d0, d1 = day_iso(0), day_iso(1)
    n_labels, n_sc_cats, n_sc_points = 8, 2, 3
    agents = [{
        "id": i, "name": f"Agent {i:03d}", "phone_number": f"+1555{i:07d}",
        "is_active": rng.random() < 0.9,
        "deactivated_at": None if i % 5 else _ts(d1, 18, 0),
        "groups": [{"id": (i % N_GROUPS) + 1, "start_dt": _ts(d0, 8, 0)}]
        + ([{"id": ((i + 1) % N_GROUPS) + 1, "start_dt": _ts(d1, 9, 30)}]
           if i % 4 == 0 else []),
        "user": f"drop-{i}", "reactions": "drop",
        "phone_number_aliases": [f"+1444{i:07d}"]} for i in range(1, N_AGENTS + 1)]
    groups = [{"id": g, "name": f"Group {g}", "scorecard_id": (g % N_SCORECARDS) + 1,
               "is_default": g == 1, "additional_scorecards": [1, 2]}
              for g in range(1, N_GROUPS + 1)]
    labels = [{"id": i, "text": f"label-{i}", "color": f"#{rng.randrange(4096):03x}"}
              for i in range(1, n_labels + 1)]
    categories = [{
        "id": c, "name": f"Category {c}", "filter_data": f"&&[tags,||and|{2700 + c}|or]",
        "position": c, "created_at": _ts(d0, 0, c), "updated_at": _ts(d1, 12, c, 30),
        "labels": [{"id": rng.randrange(1, n_labels + 1)}] if c % 3 else []}
        for c in range(1, N_CATEGORIES + 1)]
    scorecards = [{
        "id": s, "name": f"Scorecard {s}", "type": "quality", "na_behavior": "exclude",
        "count_critical_scores": s == 1, "is_automated": s == 2, "is_protected": False,
        "is_default": s == 1, "is_archived": False, "team_ids": [1, 2],
        "categories": [{
            "id": s * 100 + c, "name": f"SC cat {s * 100 + c}", "scorecard_id": s,
            "sort_order": c, "points": [{
                "id": (s * 100 + c) * 10 + p, "scorecard_id": s,
                "category_id": s * 100 + c, "name": f"Point {p}",
                "description": f"desc {p}", "sort_order": p, "critical": p == 1,
                "max_score": 5, "allow_partial_score": p % 2 == 0,
                "score_values": [0, 5], "user_data": "drop"}
                for p in range(1, n_sc_points + 1)]}
            for c in range(1, n_sc_cats + 1)]}
        for s in range(1, N_SCORECARDS + 1)]
    tags = [{
        "id": t, "name": f"tag-{t}", "type": "auto" if t % 2 else "manual",
        "team_id": (t % 3) + 1, "is_archived": t % 10 == 0,
        "archived_by_id": 1 if t % 10 == 0 else None,
        "archived_at": _ts(d1, 10, 0) if t % 10 == 0 else None,
        "labels": [{"id": rng.randrange(1, n_labels + 1)}] if t % 4 else [],
        "words": ["w"], "phrases": ["p"], "color": "#000"}
        for t in range(1, N_TAGS + 1)]
    users = [{
        "id": u, "email": f"user{u}@example.com", "is_active": True,
        "is_superuser": u == 1, "full_name": f"User {u}",
        "agent_id": u if u <= N_AGENTS else None,
        "agent_group_id": (u % N_GROUPS) + 1, "language": "en",
        "uuid": _guid(seed ^ 0x5EED, u), "invite_expires": _ts(d1, 0, 0),
        "role_ids": [1], "permissions": "drop"} for u in range(1, N_USERS + 1)]
    return {"agents": agents, "groups": groups, "labels": labels,
            "categories": categories, "scorecards": scorecards, "tags": tags,
            "users": users}


# ---------------------------------------------------------------------------
# analytics warehouse
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def warehouse_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus ``events``; ``scale`` 1.0 is sf1 row counts
    (150k customers, 1.5M orders, 6M lineitems, 1M events)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(int(10_000 * scale), 25)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(int(15_000 * scale), 10)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": list(REGIONS)})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lok = np.sort(rng.integers(0, n_ord, n_li))
    lnum = np.ones(n_li, dtype=np.int32)
    same = np.r_[False, lok[1:] == lok[:-1]]
    for i in np.flatnonzero(same):         # running line number per order
        lnum[i] = lnum[i - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": lok, "l_partkey": rng.integers(0, max(int(200_000 * scale), 1), n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "lineitem": lineitem,
            "events": events}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout ``read_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr", "zh", "en")
N_SOURCES = 20
EXACT_DUP_SHARE, NEAR_DUP_SHARE, CONTAMINATED_SHARE = 0.04, 0.04, 0.01
BENCHMARK_MAX_ID = 20          # prepare_training_set's held-out id range


def corpus(seed: int, n_docs: int) -> pa.Table:
    """``documents`` rows (doc_id, text, lang, source, n_chars).

    Shares of ``n_docs``: 4 % exact duplicates of an earlier document (half
    of them upper-cased, which the curation dedup folds), 4 % near
    duplicates (one word replaced), 1 % contaminated by a 6-word span of a
    held-out benchmark document; the rest fresh text of 10-100 words.
    """
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > BENCHMARK_MAX_ID and u < EXACT_DUP_SHARE:
            t = texts[rng.randrange(i)]
            texts.append(t.upper() if rng.random() < 0.5 else t)
            continue
        if i > BENCHMARK_MAX_ID and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            w = texts[rng.randrange(i)].lower().split(" ")
            w[rng.randrange(len(w))] = rng.choice(VOCAB)
            texts.append(" ".join(w))
            continue
        words = [rng.choice(VOCAB) for _ in range(rng.randrange(10, 101))]
        if i > BENCHMARK_MAX_ID and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE + CONTAMINATED_SHARE:
            src = texts[rng.randrange(BENCHMARK_MAX_ID)].lower().split(" ")
            at = rng.randrange(max(len(src) - 6, 1))
            words[5:5] = src[at:at + 6]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(N_SOURCES)}" for _ in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
