"""Seeded, single-process input generators. The program under test sees
only the files written here; each generator also returns what a correct
run must produce (row counts, planted groups), computed from the
generated values alone.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

# ---------------------------------------------------------------------------
# Landing zone: Zoom + SurveyMonkey API pages, one file per page
# ---------------------------------------------------------------------------

# One batch is an eighth of the landing the benchmark was specified
# against (400 meeting files + 2,000 participant pages, 43 MB, sized on
# a 4-core host): 50 meeting files of 5 meetings and one participant
# page per meeting, about 5.5 MB. A larger batch would not fit the
# check's 70 runs in its time budget. API page sizes follow the reference's loaders
# (SURVEY.md: 300 for meetings and participants, 100 for survey
# responses). The shares below are not measured anywhere: the repository
# documents which edge cases the reference's data has (FIXTURES.md: no-data
# pages, null and empty arrays), not how often; each share is chosen so
# that every case occurs in every batch.
LANDING = {
    "meeting_pages": 50,
    "meetings_per_page": 5,
    "empty_page_share": 0.05,
    "null_recordings_share": 0.2,
    "null_participants_share": 0.1,
    "max_participants": 50,
    "surveys": 3,
    "response_pages_per_survey": 3,
    "responses_per_page": 100,
    "reland_share": 0.1,
    "reland_new": 5,
}


def _write_json(path: str, obj) -> int:
    data = json.dumps(obj, ensure_ascii=False).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _spread(rng: random.Random, n: int, values, null_share: float = 0.0) -> list:
    """``n`` entries: round(n * null_share) Nones, the rest cycling
    through ``values``, shuffled. A fixed mix in a seeded order, so every
    seed lands the same row counts."""
    n_null = round(n * null_share)
    out = [None] * n_null + [values[i % len(values)] for i in range(n - n_null)]
    rng.shuffle(out)
    return out


def _picks(rng: random.Random, n: int, share: float, lo: int = 0) -> set[int]:
    """Exactly round(n * share) indices from [lo, n)."""
    return set(rng.sample(range(lo, n), round(n * share)))


def _meeting(rng: random.Random, mid: int, uuid: str, n_recs: int | None) -> dict:
    """``n_recs`` recording files, or ``recording_files: null`` for None."""
    day = rng.randint(1, 28)
    rec = lambda i: {  # noqa: E731
        "download_url": f"https://dl/{mid}/{i}", "file_extension": "MP4",
        "file_size": rng.randint(1, 10**9), "file_type": "MP4",
        "id": f"r{mid}-{i}", "meeting_id": uuid, "play_url": f"https://play/{mid}/{i}",
        "recording_start": f"2023-05-{day:02d}T10:00:00Z",
        "recording_end": f"2023-05-{day:02d}T11:{rng.randint(0, 59):02d}:00Z",
        "recording_type": rng.choice(["shared_screen", "audio_only", "chat_file"]),
        "status": "completed",
    }
    return {
        "account_id": f"acc{rng.randint(1, 5)}", "duration": rng.randint(10, 180),
        "host_email": f"h{rng.randint(1, 50)}@x.io", "host_id": f"h{rng.randint(1, 50)}",
        "id": mid, "recording_count": n_recs or 0,
        "share_url": None if rng.random() < 0.3 else f"https://share/{mid}",
        "start_time": f"2023-05-{day:02d}T{rng.randint(0, 23):02d}:00:00Z",
        "timezone": "UTC", "topic": f"Лекция {mid}", "total_size": rng.randint(0, 10**9),
        "type": 2, "uuid": uuid,
        "recording_files": None if n_recs is None else [rec(i) for i in range(n_recs)],
    }


def _participant(rng: random.Random, pid: str) -> dict:
    n_ips = rng.randint(0, 2)
    return {
        "camera": "FaceTime", "connection_type": "SSL", "customer_key": None,
        "data_center": "EU", "device": rng.choice(["Mac", "Windows", "iOS"]),
        "domain": "x.io", "email": f"{pid}@x.io", "from_sip_uri": None,
        "full_data_center": "EU", "harddisk_id": None, "id": pid,
        "internal_ip_addresses": [f"10.0.0.{i}" for i in range(n_ips)] or None,
        "ip_address": f"10.1.{rng.randint(0, 255)}.{rng.randint(0, 255)}",
        "join_time": "2023-05-01T09:01:00Z", "leave_time": "2023-05-01T09:59:00Z",
        "leave_reason": "left", "location": "SPb", "mac_addr": None,
        "microphone": "Built-in", "network_type": "Wifi", "participant_user_id": pid,
        "pc_name": "pc", "recording": False, "registrant_id": None,
        "role": rng.choice(["host", "attendee"]), "share_application": False,
        "share_desktop": rng.random() < 0.5, "share_whiteboard": False,
        "sip_uri": None, "speaker": "Built-in", "status": "in_meeting",
        "user_id": str(rng.randint(1, 10**9)), "user_name": f"Пользователь {pid}",
        "version": "5.0",
    }


def _survey(rng: random.Random, sid: int) -> tuple[dict, dict]:
    """(survey details doc, expected row counts of its questions and
    choices). Fixed shape: 3 pages, the last with ``questions: null``;
    3 questions a page with 1-2 headings of 0-4 choices."""
    pages, n_q, n_c = [], 0, 0
    for pg in range(3):
        if pg == 2:
            pages.append({"id": sid * 10 + pg, "position": pg + 1,
                          "question_count": 0, "title": "empty", "questions": None})
            continue
        qs = []
        for q in range(3):
            heads = []
            for h in range(1 + q % 2):
                k = (q + h + pg) % 5
                heads.append({"heading": f"H{sid}-{pg}-{q}-{h}", "choices": [
                    {"id": sid * 1000 + q * 10 + c, "is_na": False, "position": c + 1,
                     "quiz_options": {"score": str(c)} if rng.random() < 0.5 else None,
                     "text": f"choice {c}", "visible": True, "weight": c}
                    for c in range(k)
                ]})
                n_q += 1
                n_c += k
            qs.append({"id": sid * 100 + q, "position": q + 1, "headings": heads,
                       "answers": {"other_id": None}})
        pages.append({"id": sid * 10 + pg, "position": pg + 1,
                      "question_count": len(qs), "title": f"P{pg}", "questions": qs})
    doc = {
        "id": str(sid), "title": f"Опрос {sid}", "language": "ru", "folder_id": 7,
        "page_count": len(pages), "question_count": n_q, "response_count": 0,
        "href": f"https://api/{sid}", "date_created": "2021-12-26T10:40:00",
        "date_modified": "2021-12-27T11:00:00", "pages": pages,
    }
    return doc, {"hst_surveys_questions": n_q, "hst_surveys_choices": n_c}


def _responses_page(rng: random.Random, sid: int, first_id: int, n: int) -> tuple[dict, int]:
    """``n`` responses of 2 pages x 2 questions with 1-3 answers each."""
    data, n_ans = [], 0
    for r in range(n):
        pages = []
        for pg in range(2):
            qs = []
            for q in range(2):
                k = (q + pg) % 3 + 1
                n_ans += k
                qs.append({"id": sid * 100 + q, "answers": [
                    {"choice_id": rng.randint(1, 9) if a % 2 == 0 else None,
                     "row_id": None if a % 2 == 0 else a,
                     "text": None if a % 2 == 0 else f"ответ {a}",
                     "choices": {"weight": a} if a % 2 == 0 else None}
                    for a in range(k)
                ]})
            pages.append({"id": sid * 10 + pg, "questions": qs})
        data.append({
            "id": first_id + r, "survey_id": sid, "recipient_id": rng.randint(1, 10**6),
            "date_created": "2021-12-28T09:00:00", "date_modified": "2021-12-28T09:05:00",
            "email_address": f"u{first_id + r}@x.io", "ip_address": "1.2.3.4",
            "first_name": "Ivan", "last_name": "Ivanov", "response_status": "completed",
            "total_time": rng.randint(10, 999), "pages": pages,
        })
    return {"per_page": n, "total": n, "links": {"self": "https://api/r"}, "data": data}, n_ans


def land_batch(seed: int, batch: int, out_dir: str, scale: float = 1.0,
               prev_meetings: list[dict] | None = None) -> dict:
    """Land one batch of API pages under ``out_dir``; returns the expected
    per-table row counts, the merge slice and the batch's input
    properties. ``prev_meetings`` (meetings landed earlier) feeds the
    re-landed overlapping slice."""
    rng = random.Random(f"landing:{seed}:{batch}")
    cfg = LANDING
    dirs = {k: os.path.join(out_dir, k) for k in
            ("zoom_meetings", "zoom_participants", "monkey_details",
             "monkey_responses", "reland")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    exp = {t: 0 for t in ("meetings", "records", "participants", "hst_surveys",
                          "hst_surveys_questions", "hst_surveys_choices",
                          "hst_surveys_responses", "hst_surveys_answers")}
    n_bytes, n_files, docs = 0, 0, 0
    meetings: list[dict] = []
    n_pages = max(2, int(cfg["meeting_pages"] * scale))
    empty = _picks(rng, n_pages, cfg["empty_page_share"], lo=1)
    n_meet = (n_pages - len(empty)) * cfg["meetings_per_page"]
    n_recs = _spread(rng, n_meet, [0, 1, 2, 3], cfg["null_recordings_share"])
    n_parts = _spread(rng, n_meet, list(range(cfg["max_participants"] + 1)),
                      cfg["null_participants_share"])
    m = 0
    for pg in range(n_pages):
        ms = []
        if pg not in empty:
            for i in range(cfg["meetings_per_page"]):
                mid = (seed % 1000) * 10**9 + batch * 10**5 + pg * 100 + i
                ms.append(_meeting(rng, mid, f"u{seed}-{batch}-{pg}-{i}", n_recs[m + i]))
        page = {"from": "2023-05-01", "to": "2023-05-31", "page_size": 300,
                "total_records": len(ms), "meetings": ms}
        n_bytes += _write_json(os.path.join(dirs["zoom_meetings"], f"page_{pg:04d}.json"), page)
        n_files += 1
        docs += 1
        meetings.extend(ms)
        exp["meetings"] += len(ms)
        exp["records"] += sum(len(mt["recording_files"] or []) for mt in ms)
        for mt in ms:
            parts = None if n_parts[m] is None else [
                _participant(rng, f"{mt['uuid']}-p{k}") for k in range(n_parts[m])]
            m += 1
            doc = {"uuid": mt["uuid"], "participants_data": {
                "page_count": 1, "page_size": 300, "total_records": len(parts or []),
                "participants": parts}}
            n_bytes += _write_json(
                os.path.join(dirs["zoom_participants"], f"{mt['uuid']}.json"), doc)
            n_files += 1
            docs += 1
            exp["participants"] += len(parts or [])
    for s in range(max(1, int(cfg["surveys"] * scale))):
        sid = (seed % 1000) * 10**6 + batch * 100 + s
        doc, counts = _survey(rng, sid)
        n_bytes += _write_json(os.path.join(dirs["monkey_details"], f"survey_{sid}.json"), doc)
        n_files += 1
        docs += 1
        exp["hst_surveys"] += 1
        for k, v in counts.items():
            exp[k] += v
        for p in range(cfg["response_pages_per_survey"]):
            n = 0 if p == cfg["response_pages_per_survey"] - 1 and s % 2 else cfg["responses_per_page"]
            first = sid * 1000 + p * cfg["responses_per_page"]
            page, n_ans = _responses_page(rng, sid, first, n)
            n_bytes += _write_json(
                os.path.join(dirs["monkey_responses"], f"responses_{sid}_{p}.json"), page)
            n_files += 1
            docs += 1
            exp["hst_surveys_responses"] += n
            exp["hst_surveys_answers"] += n_ans

    # re-landed slice: some of this batch's and earlier meetings with
    # changed values, plus a few meetings never seen before
    pool = meetings + list(prev_meetings or [])
    k = max(1, int(len(meetings) * cfg["reland_share"]))
    picked = rng.sample(pool, min(k, len(pool)))
    changed = []
    for m in picked:
        m2 = dict(m)
        m2["topic"] = m["topic"] + f" (rev {batch})"
        m2["duration"] = m["duration"] + 1
        changed.append(m2)
    fresh = [
        _meeting(rng, (seed % 1000) * 10**9 + batch * 10**5 + 90000 + i,
                 f"u{seed}-{batch}-new-{i}", i % 4)
        for i in range(cfg["reland_new"])
    ]
    reland = changed + fresh
    _write_json(os.path.join(dirs["reland"], "page_0000.json"), {
        "from": "2023-05-01", "to": "2023-05-31", "page_size": 300,
        "total_records": len(reland), "meetings": reland})
    return {
        "dirs": dirs,
        "expected": exp,
        "meetings": meetings,
        "merge": {
            "updated": {m["uuid"]: (m["topic"], m["duration"]) for m in changed},
            "inserted": {m["uuid"]: (m["topic"], m["duration"]) for m in fresh},
        },
        "files": n_files,
        "bytes": n_bytes,
        "docs": docs,
    }


# ---------------------------------------------------------------------------
# OLAP star: TPC-H-shaped tables at a fixed scale factor
# ---------------------------------------------------------------------------

OLAP_SF = 0.1
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def olap_tables(out_dir: str, sf: float = OLAP_SF) -> dict:
    """Write region/nation/customer/supplier/part/orders/lineitem/events
    as single parquet files (schemas of the repo's sf* test data).
    Money columns are whole cents, so decimal casts are exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)

    def ts(days_from, n_days, size):
        base = np.datetime64(days_from, "D")
        return (base + rng.integers(0, n_days, size).astype("timedelta64[D]")).astype(
            "datetime64[us]")

    def cents(lo, hi, size):
        return np.round(rng.integers(lo * 100, hi * 100, size) / 100.0, 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(-999, 9999, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": cents(-999, 9999, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
    }
    odate = ts("1995-01-01", 2400, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000, 400000, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
                         ).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 200000, n_li) / 100.0, 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]")})
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(ev_ts),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": cents(0, 100, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    props = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        props[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return props


# ---------------------------------------------------------------------------
# Dedup corpus: documents with planted exact/near duplicate groups, and
# embeddings with planted near neighbours
# ---------------------------------------------------------------------------

DEDUP = {
    "docs": 800,
    "dup_share": 0.3,
    "low_quality_share": 0.05,
    "group_size": (2, 5),
    "edits": 2,
    "words": (45, 75),
    "vectors": 600,
    "dim": 32,
    "near_vec_share": 0.2,
}
_SYLL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "sa", "do", "gu",
         "fa", "hi", "jo", "we"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def dedup_corpus(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write documents.parquet and embeddings.parquet; return the planted
    groups (lists of doc ids), the low-quality ids, the expected kept
    ids and the planted near-neighbour vector pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = DEDUP
    rng = random.Random(f"dedup:{seed}")
    vocab = _vocab(rng, 4000)
    n_docs = max(40, int(cfg["docs"] * scale))

    def text():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(*cfg["words"])))

    def edit(t):
        w = t.split(" ")
        for _ in range(cfg["edits"]):
            w[rng.randrange(len(w))] = rng.choice(vocab)
        return " ".join(w)

    texts: list[str] = []
    groups: list[list[int]] = []  # indexes into texts before id shuffle
    low_q: list[int] = []
    n_dup_docs = int(n_docs * cfg["dup_share"])
    while sum(len(g) for g in groups) < n_dup_docs:
        base = text()
        size = rng.randint(*cfg["group_size"])
        members = [base]
        for _ in range(size - 1):
            members.append(base if rng.random() < 0.4 else edit(base))
        if len(set(members)) == 1 and size > 1:
            members[-1] = edit(base)
        g = []
        for t in members:
            g.append(len(texts))
            texts.append(t)
        groups.append(g)
    for _ in range(int(n_docs * cfg["low_quality_share"])):
        low_q.append(len(texts))
        texts.append("".join(rng.choice("!?.,;:#") for _ in range(rng.randint(5, 20)))
                     + f" {rng.choice(vocab)}")
    while len(texts) < n_docs:
        texts.append(text())
    ids = list(range(len(texts)))
    rng.shuffle(ids)  # doc_id of texts[i] is ids[i]
    doc_ids = np.array(ids, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{i % 7}" for i in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    id_groups = [sorted(ids[i] for i in g) for g in groups]
    in_group = {i for g in groups for i in g}
    low_ids = {ids[i] for i in low_q}
    keep = {g[0] for g in id_groups} | {
        ids[i] for i in range(len(texts)) if i not in in_group and ids[i] not in low_ids}

    # embeddings: unit-ish gaussians; planted neighbours at cosine >= 0.999
    nrng = np.random.default_rng([seed, 0xE3B])
    n_vec = max(20, int(cfg["vectors"] * scale))
    dim = cfg["dim"]
    vecs = nrng.standard_normal((n_vec, dim)).astype(np.float32)
    n_near = int(n_vec * cfg["near_vec_share"])
    near_pairs = set()
    for i in range(n_near):
        src = int(nrng.integers(n_near, n_vec))
        vecs[i] = vecs[src] + nrng.standard_normal(dim).astype(np.float32) * 0.01
        near_pairs.add((min(i, src), max(i, src)))
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": np.zeros(n_vec, dtype=np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))
    # near pairs sharing a source are near each other too
    by_src: dict[int, list[int]] = {}
    for a, b in near_pairs:
        by_src.setdefault(b, []).append(a)
    for src, members in by_src.items():
        for x in members:
            for y in members:
                if x < y:
                    near_pairs.add((x, y))
    return {
        "groups": id_groups,
        "low_quality": sorted(low_ids),
        "keep": sorted(keep),
        "near_pairs": sorted(near_pairs),
        "docs": len(texts),
        "dup_docs": sum(len(g) for g in groups),
        "vectors": n_vec,
    }


# ---------------------------------------------------------------------------
# Event files for the streaming leg
# ---------------------------------------------------------------------------

# A batch lands one event file of 4 chunks; each chunk advances event
# time by 60 s, so a batch's 4 min are more than watermark + window:
# every batch closes windows and the sink writes rows inside the batch.
# A row is at most event_s_per_chunk + late_s[1] behind the newest event
# of the chunks before it (a late row, or a repeat of a row of the
# previous chunk), which is within the watermark: no row is ever dropped
# as late, and the window table must hold every row. One file a batch
# keeps the micro-batches per batch fixed: one with the file, one that
# emits the windows it closes.
EVENTS = {
    "chunks_per_batch": 4,
    "events_per_chunk": 200,
    "event_s_per_chunk": 60,
    "late_share": 0.1,
    "late_s": (10, 60),
    "dup_share": 0.05,
    "watermark": "2 minutes",
    "window": "1 minute",
}


def event_row(seed: int, k: int, j: int) -> dict:
    """Row ``j`` of chunk ``k``: a share of rows repeats a row of chunk
    ``k-1`` verbatim (same event_id)."""
    rng = random.Random(f"events:{seed}:{k}:{j}")
    if k > 0 and rng.random() < EVENTS["dup_share"]:
        return _event(seed, k - 1, rng.randrange(EVENTS["events_per_chunk"]))
    return _event(seed, k, j)


def _event(seed: int, k: int, j: int) -> dict:
    """The event first generated as row ``j`` of chunk ``k``. Event time
    advances ``event_s_per_chunk`` per chunk; a share of rows is late by
    ``late_s`` seconds. ``props`` carries the generator's stamp: the
    chunk the row was first generated in."""
    cfg = EVENTS
    rng = random.Random(f"event:{seed}:{k}:{j}")
    base = 1_704_067_200 + k * cfg["event_s_per_chunk"]  # 2024-01-01T00:00:00Z
    if rng.random() < cfg["late_share"]:
        t = base - rng.uniform(*cfg["late_s"])
    else:
        t = base + rng.uniform(0, cfg["event_s_per_chunk"])
    return {
        "event_id": k * 10_000 + j,
        "ts": _iso(t),
        "user_id": rng.randint(0, 499),
        "event_type": rng.choice(_EVENT_TYPES),
        "value": round(rng.randint(0, 10_000) / 100.0, 2),
        "props": json.dumps({"chunk": k, "seed": seed}),
    }


def event_chunk(seed: int, k: int) -> list[dict]:
    return [event_row(seed, k, j) for j in range(EVENTS["events_per_chunk"])]


def _iso(t: float) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
