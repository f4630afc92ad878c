"""Seeded input generator for the lake benchmark.

Every input a workload consumes is made here from ``--seed`` alone: the
same seed gives byte-identical files (numpy's PCG64 stream, pyarrow's
deterministic parquet writer, fixed zip timestamps), and row counts do
not depend on the seed, only the values do.  The program under test sees
only the files written below.

Three input sets:

* ``tpch_tables`` -- the ten relational/event/document tables the query
  catalog reads (the schemas of FIXTURES.md section B), at a fixed size.
* ``ingest_lake`` -- a mixed-format lake directory shaped like FIXTURES.md
  section A (nested multi-line JSON, a wide CSV, a CSV with planted corrupt
  rows, keyed tables carrying ``id``, keyless tables, ``.txt`` and
  ``.docx``) plus a change round, with the expected outcome of every file.
* ``cdc_inputs`` -- event micro-batch files, an initial orders snapshot,
  upsert batches and two delete ranges, with a row-level model of the
  table the commits must produce.
"""

from __future__ import annotations

import hashlib
import json
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "old",
            "new", "dark", "light", "fast", "slow"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a the batch part spark line column order small sort fast value scan "
         "query agg join table hash key group filter window stream data row "
         "merge vector customer slow").split()

# Row counts of the analytic tables (sf0.1 of the repo's test data has
# 10x the lineitem/orders rows; this size keeps one pass near 3 s on 4
# cores so a run can repeat it).
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 200,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 800,
    "embeddings": 400,
}

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write_parquet(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def tpch_tables(rng: np.random.Generator, rows: dict[str, int] = TABLE_ROWS) -> dict[str, pa.Table]:
    """The ten tables of FIXTURES.md section B with the value domains of
    the repo's sf test data.  Timestamps carry no time zone (the test
    data's TIMESTAMP_NTZ); ``events.ts`` is nanosecond like the original."""
    n_c, n_s, n_p = rows["customer"], rows["supplier"], rows["part"]
    n_o, n_l, n_e = rows["orders"], rows["lineitem"], rows["events"]
    n_d, n_v = rows["documents"], rows["embeddings"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_p)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_p)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_p)]),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_o).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[ms]"), pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_o)]),
    })
    qty = rng.integers(1, 51, n_l).astype("float64")
    pk = rng.integers(0, n_p, n_l)
    sdate = _EPOCH_1995 + rng.integers(1, 2499, n_l).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pk % 1000) / 10.0) * rng.uniform(0.5, 2.1, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
        "l_shipdate": pa.array(sdate.astype("datetime64[ms]"), pa.timestamp("ms")),
    })
    out["events"] = event_table(rng, n_e, unit="ns")
    docs = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 60))])
            for _ in range(n_d)]
    # plant near-duplicates (one word changed) so the Jaccard queries find pairs
    for i in rng.choice(np.arange(1, n_d), n_d // 10, replace=False):
        src = docs[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs[i] = " ".join(src)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": docs,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_d)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_d)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    emb = rng.normal(0.0, 0.12, (n_v, 64)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    return out


def event_table(rng: np.random.Generator, n: int, unit: str = "us", first_id: int = 0) -> pa.Table:
    """``events`` rows with ascending timestamps over 30 days."""
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    ts = (_EPOCH_2024 + offs.astype("timedelta64[us]")).astype(f"datetime64[{unit}]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit)),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(40.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    for name, t in tables.items():
        _write_parquet(t, out_dir / f"{name}.parquet")


# --------------------------------------------------------------- ingest lake


@dataclass
class LakeFile:
    """One generated file and what ingestion must make of it."""

    table: str  # ``{format}_{stem}`` the reader names it
    rows: int  # rows generated, planted corrupt rows excluded
    corrupt: int = 0
    planted_ids: frozenset[str] = frozenset()  # ``id`` of each planted row


@dataclass
class IngestPlan:
    round1: list[LakeFile] = field(default_factory=list)
    round2: list[LakeFile] = field(default_factory=list)
    # round-2 table -> (strategy, final_rows) run_merge must report
    merge2: dict[str, tuple[str, int]] = field(default_factory=dict)

    @property
    def landed_rows(self) -> int:
        return sum(f.rows for f in self.round1 + self.round2)


def _csv_cell(v) -> str:
    s = str(v)
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _write_csv(table: pa.Table, path: Path, extra_lines: dict[int, str] | None = None) -> None:
    """Header + rows; ``extra_lines`` plants raw lines before row index i."""
    cols = table.column_names
    data = table.to_pydict()
    lines = [",".join(cols)]
    for i in range(table.num_rows):
        if extra_lines and i in extra_lines:
            lines.append(extra_lines[i])
        lines.append(",".join(_csv_cell(data[c][i]) for c in cols))
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")


def _write_docx(paragraphs: list[str], path: Path) -> None:
    body = "".join(
        f"<w:p><w:r><w:t>{p.replace('&', '&amp;').replace('<', '&lt;')}</w:t></w:r></w:p>"
        for p in paragraphs
    )
    xml = ('<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w='
           '"http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
           f"<w:body>{body}</w:body></w:document>")
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        info = zipfile.ZipInfo("word/document.xml", date_time=(2024, 1, 1, 0, 0, 0))
        z.writestr(info, xml)


def _activity_json(rng: np.random.Generator, n: int) -> str:
    """FIXTURES A4: a multi-line JSON array of nested records with sparse
    fields and non-ASCII text."""
    titles = ["Đã xem video", "Watched", "Visité", "Gesehen", "已观看"]
    recs = []
    for i in range(n):
        r = {
            "header": "YouTube",
            "title": f"{titles[int(rng.integers(0, 5))]} clip {i}",
            "titleUrl": f"https://example.test/watch?v={int(rng.integers(0, 1 << 30)):08x}",
            "time": f"2024-01-{1 + i % 28:02d}T{int(rng.integers(0, 24)):02d}:00:00Z",
            "products": ["YouTube"],
            "activityControls": ["YouTube watch history"],
        }
        if rng.random() < 0.7:
            r["subtitles"] = [{"name": f"channel{int(rng.integers(0, 50))}",
                               "url": "https://example.test/c"}]
        if rng.random() < 0.3:
            r["details"] = [{"name": "From Google Ads"}]
        if rng.random() < 0.5:
            r["description"] = "ghi chú " * int(rng.integers(1, 4))
        recs.append(r)
    return json.dumps(recs, ensure_ascii=False, indent=1)


def _rename(t: pa.Table, old: str, new: str) -> pa.Table:
    return t.rename_columns([new if c == old else c for c in t.column_names])


def ingest_lake(rng: np.random.Generator, t: dict[str, pa.Table], out_dir: Path) -> IngestPlan:
    """Write ``round1/`` and ``round2/`` under ``out_dir`` (the layout
    ``sources.readers.load_all_sources`` sweeps), slicing the tables ``t``,
    and return the plan."""
    plan = IngestPlan()
    r1, r2 = out_dir / "round1", out_dir / "round2"

    # nested multi-line JSON, and one whole-file corrupt JSON the sweep
    # must skip (multi-line JSON is one document per file)
    (r1 / "json").mkdir(parents=True, exist_ok=True)
    (r1 / "json" / "activity.json").write_text(_activity_json(rng, 300), encoding="utf-8")
    plan.round1.append(LakeFile("json_activity", 300))
    (r1 / "json" / "broken.json").write_text('[{"id": 1, "x": ]]]', encoding="utf-8")

    # wide CSV: 150 string columns
    wide = pa.table({f"c{j:04d}": rng.integers(0, 10**6, 200) for j in range(150)})
    _write_csv(wide, r1 / "csv" / "wide.csv")
    plan.round1.append(LakeFile("csv_wide", 200))

    # keyed CSV with planted malformed rows (more fields than the header)
    good = 400
    scores = pa.table({
        "id": np.arange(good),
        "name": [f"user {i}" for i in range(good)],
        "score": np.round(rng.uniform(0, 100, good), 1),
    })
    bad_at = sorted(int(i) for i in rng.choice(np.arange(1, good), 6, replace=False))
    planted = {i: f"{10**6 + i},broken,1.0,extra,fields" for i in bad_at}
    _write_csv(scores, r1 / "csv" / "scores.csv", planted)
    plan.round1.append(LakeFile("csv_scores", good, corrupt=len(planted),
                                planted_ids=frozenset(str(10**6 + i) for i in bad_at)))

    # keyed parquet carries ``id`` (a KEY_CANDIDATES name)
    orders = _rename(t["orders"].slice(0, 6000), "o_orderkey", "id")
    _write_parquet(orders, r1 / "parquet" / "orders.parquet")
    plan.round1.append(LakeFile("parquet_orders", orders.num_rows))

    # text and docx
    (r1 / "docx").mkdir(parents=True, exist_ok=True)
    notes = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), 10)]) for _ in range(200)]
    (r1 / "docx" / "notes.txt").write_text("\n".join(notes) + "\n", encoding="utf-8")
    plan.round1.append(LakeFile("text_notes", len(notes)))
    paras = [f"Paragraph {i}: " + " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), 6)])
             for i in range(20)]
    _write_docx(paras, r1 / "docx" / "memo.docx")
    plan.round1.append(LakeFile("text_memo", len(paras)))

    # change round: the keyed table gets updates + inserts (MERGE), the
    # keyless wide CSV is replaced (INSERT_OVERWRITE), one new file
    # (CREATE_TABLE)
    upd = np.sort(rng.choice(np.arange(orders.num_rows), 500, replace=False))
    o2 = pa.concat_tables([
        orders.take(upd).set_column(3, "o_totalprice", pa.array(np.round(rng.uniform(1000, 5e5, 500), 2))),
        _rename(t["orders"].slice(6000, 500), "o_orderkey", "id"),
    ])
    _write_parquet(o2, r2 / "parquet" / "orders.parquet")
    plan.round2.append(LakeFile("parquet_orders", o2.num_rows))
    plan.merge2["parquet_orders"] = ("MERGE", orders.num_rows + 500)
    wide2 = pa.table({f"c{j:04d}": rng.integers(0, 10**6, 150) for j in range(150)})
    _write_csv(wide2, r2 / "csv" / "wide.csv")
    plan.round2.append(LakeFile("csv_wide", wide2.num_rows))
    plan.merge2["csv_wide"] = ("INSERT_OVERWRITE", wide2.num_rows)
    sup = t["supplier"]
    _write_parquet(sup, r2 / "parquet" / "suppliers.parquet")
    plan.round2.append(LakeFile("parquet_suppliers", sup.num_rows))
    plan.merge2["parquet_suppliers"] = ("CREATE_TABLE", sup.num_rows)
    return plan


# ---------------------------------------------------------------- cdc inputs

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


@dataclass
class CdcPlan:
    event_files: int
    event_rows: int
    initial: Path
    upserts: list[Path]
    # (lo, hi) key ranges deleted, copy-on-write first then deletion vectors
    deletes: list[tuple[int, int]]
    # expected head after every commit: {key: totalprice}
    model: dict[int, float]
    # expected change-feed rows per _change_type over the whole history
    feed: dict[str, int]
    # per commit, in commit order: rows live after it, its change rows, and
    # a key live after it
    counts: list[int]
    commit_feed: list[int]
    probes: list[int]
    user_bytes: int


def cdc_inputs(rng: np.random.Generator, out_dir: Path, n_rows: int = 3000,
               n_upserts: int = 1, n_event_files: int = 16, events_per_file: int = 200) -> CdcPlan:
    ev_dir = out_dir / "events"
    ev_dir.mkdir(parents=True, exist_ok=True)
    for i in range(n_event_files):
        t = event_table(rng, events_per_file, unit="us", first_id=i * events_per_file)
        _write_parquet(t, ev_dir / f"part-{i:04d}.parquet")

    def orders(keys: np.ndarray) -> pa.Table:
        n = len(keys)
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 3000, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        })

    # data commits in order: write, upserts, cow delete, dv delete, compact
    # (the metadata-only enable-cdf commit after the write changes no row);
    # per commit the rows live after it, its change-feed rows and one key
    # live after it (the point-lookup probe)
    feed = {"insert": 0, "update_preimage": 0, "update_postimage": 0, "delete": 0}
    counts: list[int] = []
    commit_feed: list[int] = []
    probes: list[int] = []

    def committed(n_changes: int) -> None:
        counts.append(len(model))
        commit_feed.append(n_changes)
        live = sorted(model)
        probes.append(int(live[int(rng.integers(0, len(live)))]))

    init = orders(np.arange(n_rows))
    initial = out_dir / "orders_v1.parquet"
    _write_parquet(init, initial)
    model = dict(zip(init.column("o_orderkey").to_pylist(), init.column("o_totalprice").to_pylist()))
    feed["insert"] += n_rows
    committed(n_rows)
    next_key = n_rows
    ups = []
    for b in range(n_upserts):
        upd = np.sort(rng.choice(np.array(sorted(model)), 150, replace=False))
        new = np.arange(next_key, next_key + 50)
        next_key += 50
        batch = orders(np.concatenate([upd, new]))
        p = out_dir / f"upsert_{b}.parquet"
        _write_parquet(batch, p)
        ups.append(p)
        model.update(zip(batch.column("o_orderkey").to_pylist(), batch.column("o_totalprice").to_pylist()))
        feed["update_preimage"] += len(upd)
        feed["update_postimage"] += len(upd)
        feed["insert"] += len(new)
        committed(2 * len(upd) + len(new))
    deletes = []
    for _ in range(2):
        lo = int(rng.integers(0, n_rows - 100))
        hi = lo + 59
        gone = [k for k in model if lo <= k <= hi]
        for k in gone:
            del model[k]
        feed["delete"] += len(gone)
        deletes.append((lo, hi))
        committed(len(gone))
    committed(0)  # compaction rewrites files, changes no row
    user_bytes = sum(p.stat().st_size for p in out_dir.rglob("*.parquet"))
    return CdcPlan(n_event_files, n_event_files * events_per_file, initial, ups,
                   deletes, model, feed, counts, commit_feed, probes, user_bytes)


def digest(root: Path) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sizes(root: Path) -> dict[str, int]:
    files = [p for p in root.rglob("*") if p.is_file()]
    return {"files": len(files), "bytes": sum(p.stat().st_size for p in files)}
