"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes its files under one
output directory; the same seed gives byte-identical files.

- `tables`: the engine's test tables (TPC-H-ish star schema, `events`,
  `documents`, `embeddings`) with the schemas, value domains and row
  counts of the repository's sf0.01 test data.
- `seoul`: the reference catalog's own surface: dataset CSVs with Korean
  headers, a fixed share of malformed lines and bad values, their
  MANAGE_PHYSICAL_COLUMN-shaped schema rows, OpenAPI doc-page cells, and
  the catalog plus detail pages that category enrichment reads. Returns a
  manifest with the counts every output check needs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.01 (region and nation are fixed); `events`
# has USERS distinct users.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
USERS = 150
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_MS = 86_400_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _ms(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "ms").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _documents(rng, n):
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # near-duplicates: about 2% of documents copy an earlier one with one
    # word changed, and a few are exact copies, so dedup finds real clusters
    for i in range(1, n):
        r = rng.random()
        if r < 0.02:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            texts[i] = " ".join(src)
        elif r < 0.0216:
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def tables(out_dir, seed):
    """Write each table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_ms = pa.timestamp("ms")
    for stream, name in enumerate(TABLES):
        rng = _rng(seed, stream)
        path = os.path.join(out_dir, name + ".parquet")
        if name == "region":
            _write(path, {"r_regionkey": pa.array(range(5), i32),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
        elif name == "nation":
            _write(path, {"n_nationkey": pa.array(range(25), i32),
                          "n_name": [f"NATION_{k}" for k in range(25)],
                          "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
        elif name == "customer":
            m = n[name]
            _write(path, {"c_custkey": pa.array(range(m), i64),
                          "c_name": [f"Customer#{k:09d}" for k in range(m)],
                          "c_nationkey": pa.array(rng.integers(0, 25, m), i32),
                          "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, m), f64),
                          "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, m)])})
        elif name == "supplier":
            m = n[name]
            _write(path, {"s_suppkey": pa.array(range(m), i64),
                          "s_name": [f"Supplier#{k:09d}" for k in range(m)],
                          "s_nationkey": pa.array(rng.integers(0, 25, m), i32),
                          "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, m), f64)})
        elif name == "part":
            m = n[name]
            adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), m)]
            noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), m)]
            _write(path, {"p_partkey": pa.array(range(m), i64),
                          "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
                          "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, m)],
                          "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, m)]),
                          "p_size": pa.array(rng.integers(1, 51, m), i32),
                          "p_retailprice": pa.array(
                              [round(900 + (k % 1000) * 0.1, 1) for k in range(m)], f64)})
        elif name == "orders":
            m = n[name]
            lo, hi = _ms(1995, 1, 1), _ms(2001, 8, 1)
            _write(path, {"o_orderkey": pa.array(range(m), i64),
                          "o_custkey": pa.array(rng.integers(0, n["customer"], m), i64),
                          "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, m)]),
                          "o_totalprice": pa.array(_money(rng, 1000, 500000, m), f64),
                          "o_orderdate": pa.array(
                              lo + rng.integers(0, (hi - lo) // DAY_MS + 1, m) * DAY_MS, ts_ms),
                          "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, m)])})
        elif name == "lineitem":
            m = n[name]
            lo, hi = _ms(1995, 1, 2), _ms(2001, 11, 4)
            _write(path, {"l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
                          "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
                          "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
                          "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
                          "l_quantity": pa.array(rng.integers(1, 51, m).astype(float), f64),
                          "l_extendedprice": pa.array(_money(rng, 900, 105000, m), f64),
                          "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, f64),
                          "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, f64),
                          "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
                          "l_linestatus": list(np.array(["O", "F"])[rng.integers(0, 2, m)]),
                          "l_shipdate": pa.array(
                              lo + rng.integers(0, (hi - lo) // DAY_MS + 1, m) * DAY_MS, ts_ms)})
        elif name == "events":
            # ts as the repository's sf0.01 test data stores it: TIMESTAMP
            # (MICROS, not adjusted to UTC), sub-second values in every row
            m = n[name]
            t0 = _ms(2024, 1, 1) * 1000
            ts = t0 + np.sort(rng.integers(0, 30 * DAY_MS * 1000, m))
            _write(path, {"event_id": pa.array(range(m), i64),
                          "ts": pa.array(ts, pa.timestamp("us")),
                          "user_id": pa.array(rng.integers(0, USERS, m), i64),
                          "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, m)]),
                          "value": pa.array(_money(rng, 0.01, 490.02, m), f64),
                          "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]})
        elif name == "documents":
            m = n[name]
            texts = _documents(rng, m)
            _write(path, {"doc_id": pa.array(range(m), i64),
                          "text": texts,
                          "lang": list(rng.choice(LANGS, m, p=LANG_P)),
                          "source": [f"src{k}" for k in rng.integers(0, 20, m)],
                          "n_chars": pa.array([len(t) for t in texts], i64)})
        elif name == "embeddings":
            m = n[name]
            v = rng.standard_normal((m, 64))
            v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
            _write(path, {"vec_id": pa.array(range(m), i64),
                          "embedding": pa.array(list(v), pa.list_(pa.float32())),
                          "label": pa.array(rng.integers(0, 10, m), i32)})


# --- the reference catalog's surface -------------------------------------

# (english physical name, catalog type, korean header)
TYPED_COLUMNS = [
    ("STN_ID", "NUMBER", "측정소코드"), ("STN_NAME", "VARCHAR2", "측정소명"),
    ("MEA_DATE", "DATE", "측정일자"), ("MEA_VALUE", "FLOAT", "측정값"),
    ("GU_NAME", "VARCHAR2", "자치구"), ("ITEM_CODE", "NUMBER", "항목코드"),
    ("ITEM_NAME", "VARCHAR2", "항목명"), ("REMARK", "VARCHAR2", "비고")]
DOC_COLUMNS = [
    ("FCLTY_ID", "시설아이디"), ("FCLTY_NM", "시설명"), ("ADRES", "주소"),
    ("TELNO", "전화번호"), ("OPER_DAY", "운영요일"), ("CAPACITY", "수용인원"),
    ("LAT", "위도"), ("LNG", "경도")]
GU = ["강남구", "강동구", "강북구", "강서구", "관악구", "광진구", "구로구", "금천구",
      "노원구", "도봉구", "마포구", "서초구", "성동구", "송파구", "용산구", "종로구"]
ITEMS = ["미세먼지", "초미세먼지", "오존", "이산화질소", "일산화탄소", "아황산가스"]
CATS = [("환경", "대기"), ("환경", "수질"), ("교통", "버스"), ("교통", "지하철"),
        ("복지", "노인"), ("문화관광", "공연"), ("안전", "재난"), ("주택", "임대")]


def _csv_lines(rng, kind, n):
    """Data lines (no header) of one dataset, and the columns they carry."""
    if kind == "typed":
        ids = np.arange(1, n + 1)
        day = rng.integers(0, 365, n)
        dates = (np.datetime64("2023-01-01") + day).astype(str)
        vals = np.round(rng.uniform(0, 200, n), 1).astype(str)
        item = rng.integers(0, len(ITEMS), n)
        gu = np.array(GU)[rng.integers(0, len(GU), n)]
        cols = [ids.astype(str), np.array([f"측정소{k % 500}" for k in ids]), dates,
                vals, gu, (item + 101).astype(str), np.array(ITEMS)[item],
                np.where(rng.random(n) < 0.5, "정상", "점검")]
    else:
        ids = np.arange(1, n + 1)
        gu = np.array(GU)[rng.integers(0, len(GU), n)]
        cols = [np.char.add("F", ids.astype(str)), np.array([f"시설{k}" for k in ids]),
                np.char.add("서울특별시 ", gu),
                np.array([f"02-{a:04d}-{b:04d}" for a, b in rng.integers(0, 10000, (n, 2))]),
                np.array(["평일", "주말", "매일"])[rng.integers(0, 3, n)],
                rng.integers(10, 5000, n).astype(str),
                np.round(rng.uniform(37.4, 37.7, n), 6).astype(str),
                np.round(rng.uniform(126.8, 127.2, n), 6).astype(str)]
    return [list(c) for c in cols]


# Sizes and shares below are assumptions: the reference code gives no
# volumes or error rates. They were chosen so that a pass takes about 4 s
# and graft.sources calls take most of it (perfbench/README.md shows the
# traced split).
DATASETS, LINES, CATALOG_ROWS = 4, 20000, 20000


def seoul(out_dir, seed):
    """Write the seoul-ingest inputs (DATASETS CSVs of LINES data lines, a
    catalog of CATALOG_ROWS); return their manifest (also written as
    `<out_dir>/manifest.json`)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 100)
    manifest = {"datasets": [], "input_rows": 0, "input_bytes": 0, "malformed_lines": 0}
    schema_rows = {"dataset_id": [], "physical_column_name": [],
                   "physical_column_type": [], "physical_column_order": []}
    pages = {"page_id": [], "cells": []}
    lines = LINES
    for i in range(DATASETS):
        kind = "typed" if i % 2 == 0 else "doc"
        ds_id = 1000 + i
        cols = _csv_lines(rng, kind, lines)
        # 1% malformed lines (an extra field) and, in typed datasets, 1% bad
        # MEA_VALUE cells that lenient typing turns into NULL
        malformed = np.sort(rng.choice(lines, lines // 100, replace=False))
        bad = np.zeros(lines, bool)
        if kind == "typed":
            bad[rng.choice(lines, lines // 100, replace=False)] = True
            bad[malformed] = False
            for k in np.flatnonzero(bad):
                cols[3][k] = "N/A"
        rows = [",".join(r) for r in zip(*cols)]
        for k in malformed:
            rows[k] += ",초과필드"
        # a resume offset near 10% of the file, so every seed ingests about
        # the same number of rows
        start_idx = int(lines // 10 + rng.integers(0, lines // 100))
        if kind == "typed":
            header = [c[2] for c in TYPED_COLUMNS]
            for o, (name, typ, _) in enumerate(TYPED_COLUMNS, 1):
                schema_rows["dataset_id"].append(ds_id)
                schema_rows["physical_column_name"].append(name)
                schema_rows["physical_column_type"].append(typ)
                schema_rows["physical_column_order"].append(o)
        else:
            header = [c[1] for c in DOC_COLUMNS]
            cells = ["공통", "RESULT", "결과코드", "공통", "MESSAGE", "결과메시지"]
            for name, korean in DOC_COLUMNS:
                cells += ["출력", name, korean]
            pages["page_id"].append(ds_id)
            pages["cells"].append(cells)
        path = os.path.join(out_dir, f"dataset_{ds_id}.csv")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(",".join(header) + "\n")
            f.write("\n".join(rows) + "\n")
        # surrogate ids are 1-based line numbers; typed datasets quarantine
        # malformed lines, doc datasets keep them as partial rows
        ids = np.arange(1, lines + 1)
        kept = ids > start_idx
        quarantined = np.zeros(lines, bool)
        if kind == "typed":
            quarantined[malformed] = True
            quarantined &= kept
            kept &= ~quarantined
        manifest["datasets"].append({
            "id": ds_id, "kind": kind, "csv": os.path.basename(path),
            "lines": lines, "start_idx": start_idx,
            "ingested": int(kept.sum()), "quarantined": int(quarantined.sum()),
            "null_values": int(np.sum(kept & bad)),
            "high_water_mark": int(ids[kept].max())})
        manifest["input_rows"] += lines
        manifest["input_bytes"] += os.path.getsize(path)
        manifest["malformed_lines"] += len(malformed)
    _write(os.path.join(out_dir, "schema_rows.parquet"), {
        "dataset_id": pa.array(schema_rows["dataset_id"], pa.int64()),
        "physical_column_name": schema_rows["physical_column_name"],
        "physical_column_type": schema_rows["physical_column_type"],
        "physical_column_order": pa.array(schema_rows["physical_column_order"], pa.int32())})
    _write(os.path.join(out_dir, "doc_pages.parquet"), {
        "page_id": pa.array(pages["page_id"], pa.int64()),
        "cells": pa.array(pages["cells"], pa.list_(pa.string()))})

    # catalog (data_basic_info-shaped) and the detail pages category
    # enrichment extracts from: 30% of rows lack a category, and 90% of
    # those have a page that carries one
    m = CATALOG_ROWS
    cat = rng.integers(0, len(CATS), m)
    missing = rng.random(m) < 0.3
    _write(os.path.join(out_dir, "catalog.parquet"), {
        "id": pa.array(range(1, m + 1), pa.int64()),
        "collect_site_id": pa.array(rng.integers(1, 4, m), pa.int32()),
        "data_name": [f"서울시 데이터셋 {k}" for k in range(1, m + 1)],
        "is_collect_yn": list(np.where(rng.random(m) < 0.9, "Y", "N")),
        "category_big": [None if x else CATS[c][0] for x, c in zip(missing, cat)],
        "category_small": [None if x else CATS[c][1] for x, c in zip(missing, cat)]})
    page_ids = np.flatnonzero(missing) + 1
    has_cat = rng.random(len(page_ids)) < 0.9
    texts = []
    for pid, h in zip(page_ids, has_cat):
        big, small = CATS[int(cat[pid - 1])]
        body = (f'<strong class="side-detail-ctg">  {big} </strong>'
                f'<table><tr><td class="cate-s">{small}</td></tr></table>') if h else \
            "<p>분류 정보 없음</p>"
        texts.append(f"<html><body><h1>데이터셋 {pid}</h1>{body}</body></html>")
    _write(os.path.join(out_dir, "pages.parquet"), {
        "id": pa.array(page_ids, pa.int64()), "page_text": texts})
    manifest["catalog_rows"] = m
    manifest["catalog_enriched"] = int(m - missing.sum() + has_cat.sum())
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
