"""Input generators for the crz-spark benchmark.

Two kinds of input, both written with numpy + pyarrow (no Spark), so they
are built before the Spark session starts and never count as set-up time:

* ``make_star`` writes the fixed star schema (``region`` ... ``embeddings``)
  that the registry workloads read. It takes its own constant seed, not the
  run's ``--seed``: the registry workloads compare runs on identical data
  and the run seed only permutes the order of operations. Shapes, value
  domains and column types follow the engine's synthetic test tables
  (FIXTURES.md section A); 15% of the documents are near-duplicates of an
  earlier document, so the LSH and dedup operators have real pairs to find.
* ``make_contract_dumps`` writes daily CRZ-shaped XML dumps plus a next-day
  increment from the run's seed, and ``make_events`` the event stream the
  ingest workload's streaming sink consumes. Every record is planted with at most one
  defect, so the generator knows the exact discard-reason tally the
  stage-2 filter ladder must report.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 20240101
# sf0.01 row counts of the engine's star schema; chosen so that a whole
# run of every workload fits the benchmark's per-run time (see README).
STAR_SF = 0.01

_PART_WORDS = (
    ("blue", "cold", "hot", "large", "new", "old", "red", "small"),
    ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"),
)
_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _ts_us(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"))


def _events(rng, n: int, n_users: int, days: int) -> pa.Table:
    gaps = rng.exponential(days * 86_400 / n, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
            "user_id": rng.integers(0, n_users, n),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n)
            ],
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def make_star(out_dir: str, sf: float = STAR_SF, seed: int = STAR_SEED) -> dict:
    """Write the ten star-schema tables as one parquet file each into
    ``out_dir``; return their row counts."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    day = 86_400

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(_PART_WORDS[0])[rng.integers(0, 8, n_part)]
    noun = np.array(_PART_WORDS[1])[rng.integers(0, 8, n_part)]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts_us("1995-01-01", order_day * day),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(
                "1995-01-01",
                (order_day[li_order] + rng.integers(1, 122, n_li)) * day,
            ),
        }
    )
    tables["events"] = _events(rng, n_ev, n_users=max(1, n_cust // 10), days=30)
    words = np.array(_DOC_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 1 + len(toks) // 25):
                toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(10, 100))])
        texts.append(" ".join(toks))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_doc)
    centroids = rng.normal(0, 0.15, (10, 64))
    vecs = (centroids[labels] + rng.normal(0, 0.05, (n_doc, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Contract dumps (contracts_ingest)

COMPANY_CINS = [f"{35_000_000 + 7919 * i:08d}" for i in range(40)]
RESORTS = [["Ministerstvo vnútra"], ["Ministerstvo financií"], ["Úrad vlády"]]
PRICE_MIN = 100.0
DATE_MIN = "2024-01-01 00:00:00"
FIRST_DAY = dt.date(2024, 3, 1)

# Planted share of each record kind per dump file. The discard reasons are
# the stage-2 ladder's codes (operators/filtering.py); "corrupt" records
# are malformed XML that the permissive reader routes aside. These shares
# are placeholders, not measured CRZ traffic: they give every discard
# reason and the corrupt path enough rows per file to be checked.
SHARES = {
    "kept": 0.70,
    "cin_miss": 0.06,  # reason 1
    "no_attachments": 0.06,  # reason 2
    "price_reject": 0.06,  # reason 3
    "date_reject": 0.05,  # reason 4
    "duplicate": 0.04,  # reason 5
    "corrupt": 0.03,
}
REASON_CODE = {
    "kept": 0,
    "cin_miss": 1,
    "no_attachments": 2,
    "price_reject": 3,
    "date_reject": 4,
    "duplicate": 5,
}


def _attachments(rng: random.Random, cid: str, day: dt.date) -> str:
    out = []
    for k in range(rng.randint(1, 3)):
        out.append(
            f"<priloha><att_id>{cid}-{k}</att_id><nazov>Príloha {k}</nazov>"
            f"<subor>{cid}_{k}.pdf</subor><velkost>{rng.randint(1_000, 900_000)}"
            f"</velkost><odkaz>https://www.crz.gov.sk/data/att/{cid}_{k}.pdf"
            f"</odkaz><datum>{day} 08:00:00</datum></priloha>"
        )
    return "".join(out)


def _supplements(rng: random.Random, cid: str, day: dt.date) -> str:
    if rng.random() >= 0.2:
        return ""
    sup = [
        f"<dodatok><dod_id>{cid}-d{k}</dod_id><nazov>Dodatok {k + 1}</nazov>"
        f"<cena>{rng.randint(10, 5_000)}.00</cena><datum>{day} 12:00:00</datum>"
        f"<prilohy>{_attachments(rng, f'{cid}-d{k}', day)}</prilohy></dodatok>"
        for k in range(rng.randint(1, 2))
    ]
    return "<dodatky>" + "".join(sup) + "</dodatky>"


def _contract(rng: random.Random, cid: str, day: dt.date, kind: str) -> dict:
    """Field values of one contract with the defect `kind` planted."""
    price = f"{rng.randint(200, 2_000_000)}.{rng.randint(0, 99):02d}"
    pub = f"{day} {rng.randint(6, 20):02d}:{rng.randint(0, 59):02d}:00"
    fields = {
        "nazov": f"Zmluva o dielo {cid}",
        "id": cid,
        "inner_id": f"i{cid}",
        "objednavatel_ico": f"{rng.randint(10_000_000, 99_999_999)}",
        "objednavatel": rng.choice(
            ["Ministerstvo vnútra SR", "Ministerstvo financií SR", "Úrad vlády SR"]
        ),
        "objednavatel_adresa": "Bratislava",
        "dodavatel_ico": rng.choice(COMPANY_CINS),
        "dodavatel": f"Firma {rng.randint(1, 999)} s.r.o.",
        "dodavatel_adresa": "Košice",
        "datum_zverejnenia": pub,
        "datum_podpisu": pub,
        "datum_platnosti": pub,
        "datum_ucinnosti": pub,
        "posledna_zmena": pub,
        "cena_konecna": price,
        "cena_podpisana": price,
        "rezort": "MV",
        "typ": "Zmluva",
        "stav": "Platná",
        "prilohy": _attachments(rng, cid, day),
        "dodatky": _supplements(rng, cid, day),
    }
    if kind == "cin_miss":
        fields["dodavatel_ico"] = f"{rng.randint(10_000_000, 29_999_999)}"
    elif kind == "no_attachments":
        fields["prilohy"] = (
            ""
            if rng.random() < 0.5
            else fields["prilohy"].replace("https://", "ftp://")
        )
    elif kind == "price_reject":
        fields["cena_konecna"] = rng.choice(["dohodou", "n/a", "50.00", "0.99"])
    elif kind == "date_reject":
        fields["datum_zverejnenia"] = f"2023-{rng.randint(1, 12):02d}-15 10:00:00"
    return fields


def _xml(fields: dict, corrupt: bool = False) -> str:
    body = "".join(
        f"<{k}>{v}</{k}>" for k, v in fields.items() if k not in ("prilohy", "dodatky")
    )
    body += f"<prilohy>{fields['prilohy']}</prilohy>{fields['dodatky']}"
    if corrupt:
        # An unescaped ampersand: the permissive reader keeps the raw
        # record in _corrupt_record and parses the records around it.
        body = body.replace("<nazov>", "<nazov>R&D ", 1)
    return f"<contract>{body}</contract>"


# Two daily dumps of 1,000 records: set by the time one run of the
# workload may take, not by measured CRZ traffic (see perfbench/README.md).
DUMP_FILES = 2
DUMP_RECORDS = 1_000


def make_contract_dumps(
    out_dir: str, seed: int, n_files: int = DUMP_FILES, per_file: int = DUMP_RECORDS
) -> dict:
    """Write ``n_files`` daily XML dumps into ``out_dir`` and return the
    plan: planted tallies, the expected row counts of each ingest step and
    the next-day increment (updated ids, new ids)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    tally = {k: 0 for k in SHARES}
    kept_by_day: dict[str, list[str]] = {}
    n_records = 0
    for f in range(n_files):
        day = FIRST_DAY + dt.timedelta(days=f)
        counts = {k: int(round(per_file * s)) for k, s in SHARES.items()}
        counts["kept"] += per_file - sum(counts.values())
        kinds = [k for k, n in counts.items() for _ in range(n) if k != "duplicate"]
        rng.shuffle(kinds)
        records: list[str] = []
        kept_here: list[dict] = []
        for i, kind in enumerate(kinds):
            cid = f"{seed % 1000:03d}{f:02d}{i:04d}"
            fields = _contract(rng, cid, day, kind)
            records.append(_xml(fields, corrupt=kind == "corrupt"))
            if kind == "kept":
                kept_here.append(fields)
            tally[kind] += 1
        # Duplicates follow their (kept) original in the same file, so the
        # original always has the smaller ingest index.
        for _ in range(counts["duplicate"]):
            orig = dict(rng.choice(kept_here))
            orig["nazov"] = orig["nazov"] + rng.choice([" ", "\n", ""])
            records.append(_xml(orig))
            tally["duplicate"] += 1
        kept_by_day[str(day)] = [c["id"] for c in kept_here]
        n_records += len(records)
        with open(os.path.join(out_dir, f"crz_{day:%Y%m%d}.xml"), "w") as fh:
            fh.write("<?xml version='1.0' encoding='UTF-8'?>\n<zmluvy>\n")
            fh.write("\n".join(records))
            fh.write("\n</zmluvy>\n")
    # The increment corrects contracts of the latest dump only, so the
    # upsert rewrites that day's partition and adds the next day's; the
    # older partitions keep the files they were written with.
    all_kept = [cid for ids in kept_by_day.values() for cid in ids]
    n_upd = max(1, len(all_kept) // 20)
    updated = sorted(rng.sample(kept_by_day[str(day)], n_upd))
    new_from = sorted(rng.sample(all_kept, n_upd))
    next_day = FIRST_DAY + dt.timedelta(days=n_files)
    return {
        "seed": seed,
        "records": n_records,
        "tally": tally,
        "kept": tally["kept"],
        "updated_ids": updated,
        "new_template_ids": new_from,
        "new_day": str(next_day),
        "expected_store_rows": tally["kept"] + len(new_from),
    }


def make_events(out_dir: str, seed: int, n: int = 2_000, days: int = 2) -> int:
    """Write a seeded ``events.parquet`` (the star schema's event layout)
    for the streaming sink step of contracts_ingest; return its rows."""
    os.makedirs(out_dir, exist_ok=True)
    table = _events(np.random.default_rng(seed), n, n_users=150, days=days)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return table.num_rows
