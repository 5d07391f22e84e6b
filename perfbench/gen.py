"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical files. Alongside the inputs the generator writes
`expected.json`: row counts, planted rejects, per-stage survivors and
order-independent checksums of key columns. These are computed here, in
numpy, from the generator's own arrays -- never by the code under test --
and the runner compares every job's output against them.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows/documents per workload: sized so that on four cores a warm job takes
# 1.5-7 s and one run -- two set-ups, a cold job and the warm loop -- stays
# under a minute (see perfbench/README.md, "Sizing").
SIZES = {"csv_ingest": 10_000, "jdbc_roundtrip": 50_000, "curation": 1_500}

# Share of csv_ingest dates not spelled ISO-8601. A chosen figure, not a
# measured one: the TPC-H lineitem data holds typed dates only. See
# perfbench/README.md for how much records_per_s moves with it.
DATE_DRIFT = 0.1
INVALID_SHARE = 0.005  # planted invalid cells in csv_ingest (one per row)
INFER_SAMPLE_ROWS = 1000  # rows CellInference samples (its SampleRows)
CSV_PARTS = 4             # csv_ingest reads a directory of this many CSV files
FILTER_MIN_QTY = 3     # the transform filter keeps l_quantity >= 3

EN_WORDS = """the of and to in is was for on that with as by at from his
her it an were are which this be or has had not but what all when there
can more if no man out other so time up about into only new some could
them see these two may then do first any now such like our over even
most made after also did many before must through back years where much
your way well down should because each just those people how too little
state good very make world still own men work long here get both between
life being under never day same another know while last might us great
old year off come since against go came right used take three house
water river valley mountain village farmer garden window market winter
summer autumn spring morning evening bright quiet gentle careful golden
silver simple plain small large early late open close near far light
dark warm cold green blue red white black yellow stone wood paper glass
road bridge field forest harbor island city street school church table
chair letter story music voice friend mother father child family""".split()

DE_WORDS = """der die das und ist nicht ein eine zu den von mit sich des
auf fuer im dem auch als an nach wie aus bei oder sie er wir ihr noch
nur vor zur ueber schon wenn aber mehr durch wird haben werden sein
hat kann alle weil unter gegen diese dieser dieses immer wieder heute
morgen abend nacht jahr zeit leben welt mensch kinder frau mann haus
stadt land wasser fluss berg dorf bauer garten fenster markt sommer
herbst fruehling hell ruhig sanft vorsichtig golden silbern einfach
klein gross frueh spaet offen nah fern licht dunkel warm kalt gruen blau
rot weiss schwarz gelb stein holz papier glas strasse bruecke feld wald
hafen insel schule kirche tisch stuhl brief musik stimme freund mutter
vater kind familie schnell braun fuchs springt faul hund schnee""".split()

SHIP_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIP_MODE = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
EPOCH_1992 = 8036  # days from 1970-01-01 to 1992-01-02

CSV_COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
               "l_quantity", "l_extendedprice", "l_discount", "l_tax",
               "l_returnflag", "l_linestatus", "l_shipdate", "l_commitdate",
               "l_receiptdate", "l_shipinstruct", "l_shipmode", "l_comment"]

SCHEMA_YAML = """columns:
  - {name: l_orderkey, type: integer, nullable: false}
  - {name: l_linenumber, type: integer, nullable: false}
  - {name: l_quantity, type: integer, nullable: false}
  - {name: l_extendedprice, type: decimal, nullable: false}
  - {name: l_discount, type: decimal, nullable: false}
  - {name: l_returnflag, type: string, nullable: false, pattern: '^[ANR]$'}
  - {name: l_shipdate, type: date, nullable: false}
  - {name: l_shipmode, type: string, nullable: false}
"""

TRANSFORM = ("revenue = row.l_extendedprice * (1 - row.l_discount); "
             "ship_mode = string.lower(row.l_shipmode)")
FILTER = f"row.l_quantity >= {FILTER_MIN_QTY}"


def rng_for(workload, seed):
    tag = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "big")
    return np.random.default_rng([int(seed), tag])


def key_checksum(orderkey, linenumber):
    """Order-independent checksum of the (orderkey, linenumber) key."""
    return int(np.sum(np.asarray(orderkey, dtype=np.int64) * 8
                      + np.asarray(linenumber, dtype=np.int64)))


def cents(values):
    """Per-row round(x * 100) summed -- the money checksum used on both sides."""
    return int(np.sum(np.rint(np.asarray(values, dtype=np.float64) * 100.0)))


def lineitem_arrays(rng, n):
    """Typed lineitem-shaped columns; money as exact cents."""
    lines = rng.integers(1, 8, size=n)
    orders = np.repeat(np.arange(1, n + 1), lines)[:n]
    starts = np.concatenate([[0], np.flatnonzero(np.diff(orders)) + 1])
    linenumber = np.arange(n) - np.repeat(starts, np.diff(np.append(starts, n))) + 1
    qty = rng.integers(1, 51, size=n)
    unit_cents = rng.integers(90_000, 200_001, size=n)
    ship = EPOCH_1992 + rng.integers(0, 2500, size=n)
    words = np.array(EN_WORDS)
    comment = [" ".join(ws) for ws in
               words[rng.integers(0, len(words), size=(n, 4))]]
    return {
        "l_orderkey": orders * 4 + 1,
        "l_partkey": rng.integers(1, 20_001, size=n),
        "l_suppkey": rng.integers(1, 1_001, size=n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "price_cents": qty * unit_cents,
        "discount_pct": rng.integers(0, 11, size=n),
        "tax_pct": rng.integers(0, 9, size=n),
        "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(list("OF"))[rng.integers(0, 2, size=n)],
        "ship_days": ship,
        "commit_days": ship + rng.integers(-30, 61, size=n),
        "receipt_days": ship + rng.integers(1, 31, size=n),
        "l_shipinstruct": np.array(SHIP_INSTRUCT)[rng.integers(0, 4, size=n)],
        "l_shipmode": np.array(SHIP_MODE)[rng.integers(0, 7, size=n)],
        "l_comment": comment,
    }


def money(c):
    return f"{c // 100}.{c % 100:02d}"


def ymd(days):
    """(year, month, day) integer arrays for days since 1970-01-01."""
    d = np.asarray(days).astype("datetime64[D]")
    month_start = d.astype("datetime64[M]")
    return (d.astype("datetime64[Y]").astype(int) + 1970,
            month_start.astype(int) % 12 + 1,
            (d - month_start).astype(int) + 1)


def fmt_dates(days, styles):
    """Each date in one of four unambiguous spellings the engine's date
    chain parses; the month-name spelling holds a comma, so it is quoted."""
    out = []
    for y, m, d, s in zip(*ymd(days), styles):
        if s == 0:
            out.append(f"{y}-{m:02d}-{d:02d}")
        elif s == 1:
            out.append(f"{m}/{d}/{y}")
        elif s == 2:
            out.append(f'"{MONTHS[m - 1]} {d}, {y}"')
        else:
            out.append(f"{y}/{m}/{d}")
    return out


def gen_csv_ingest(rng, n, out):
    a = lineitem_arrays(rng, n)
    # mostly ISO dates with a drift of other spellings, as exports have
    styles = rng.choice(4, size=(n, 3), p=[1 - DATE_DRIFT] + [DATE_DRIFT / 3] * 3)
    n_bad = int(round(n * INVALID_SHARE))
    # the export is split into CSV_PARTS files; invalid cells sit past the
    # rows type inference samples from any one file, so every seed infers
    # the same column types and only validation sees the bad cells
    per_part = n // CSV_PARTS
    eligible = np.flatnonzero(np.arange(n) % per_part >= INFER_SAMPLE_ROWS)
    bad_rows = rng.choice(eligible, size=n_bad, replace=False)
    bad_kind = dict(zip(bad_rows.tolist(),
                        rng.integers(0, 4, size=n_bad).tolist()))
    cols = [a["l_orderkey"].astype(str), a["l_partkey"].astype(str),
            a["l_suppkey"].astype(str), a["l_linenumber"].astype(str),
            a["l_quantity"].astype(str),
            [money(int(c)) for c in a["price_cents"]],
            [f"0.{p:02d}" for p in a["discount_pct"]],
            [f"0.{p:02d}" for p in a["tax_pct"]],
            a["l_returnflag"], a["l_linestatus"],
            fmt_dates(a["ship_days"], styles[:, 0]),
            fmt_dates(a["commit_days"], styles[:, 1]),
            fmt_dates(a["receipt_days"], styles[:, 2]),
            a["l_shipinstruct"], a["l_shipmode"], a["l_comment"]]
    cols = [list(c) for c in cols]
    for i, kind in bad_kind.items():
        if kind == 0:
            cols[4][i] += "x"           # quantity: not an integer
        elif kind == 1:
            cols[8][i] = "Z"            # returnflag: fails the pattern
        elif kind == 2:
            cols[0][i] = ""             # orderkey: required, null
        else:
            cols[10][i] = "someday"     # shipdate: not a date
    rows = [",".join(row) + "\n" for row in zip(*cols)]
    os.makedirs(os.path.join(out, "lineitem.csv"))
    for p in range(CSV_PARTS):
        with open(os.path.join(out, "lineitem.csv", f"part-{p:05d}.csv"), "w",
                  encoding="utf-8", newline="") as f:
            f.write(",".join(CSV_COLUMNS) + "\n")
            f.writelines(rows[p * per_part:(p + 1) * per_part])
    for name, text in (("schema.yaml", SCHEMA_YAML),
                       ("transform.txt", TRANSFORM), ("filter.txt", FILTER)):
        with open(os.path.join(out, name), "w", encoding="utf-8") as f:
            f.write(text)

    valid = np.ones(n, dtype=bool)
    valid[bad_rows] = False
    kept = valid & (a["l_quantity"] >= FILTER_MIN_QTY)
    price = np.array([float(money(int(c))) for c in a["price_cents"][kept]])
    disc = np.array([float(f"0.{p:02d}") for p in a["discount_pct"][kept]])
    return {
        "records": n,
        "rows": int(kept.sum()),
        "rejected_rows": n_bad,
        "filtered_rows": int((valid & ~kept).sum()),
        "key_checksum": key_checksum(a["l_orderkey"][kept],
                                     a["l_linenumber"][kept]),
        "quantity_sum": int(a["l_quantity"][kept].sum()),
        "revenue_cents": cents(price * (1.0 - disc)),
        "shipdate_days": int(a["ship_days"][kept].sum()),
        "rejected_linenumber_sum": int(a["l_linenumber"][bad_rows].sum()),
    }


def gen_jdbc_roundtrip(rng, n, out):
    a = lineitem_arrays(rng, n)
    price = a["price_cents"] / 100.0
    table = pa.table({
        "l_orderkey": pa.array(a["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(a["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(a["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(a["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(a["l_quantity"], pa.int64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(a["discount_pct"] / 100.0, pa.float64()),
        "l_returnflag": pa.array(a["l_returnflag"].tolist(), pa.string()),
        "l_shipdate": pa.array(a["ship_days"].astype("int32"), pa.int32())
                        .cast(pa.date32()),
        "l_shipmode": pa.array(a["l_shipmode"].tolist(), pa.string()),
        "l_comment": pa.array(a["l_comment"], pa.string()),
    })
    pq.write_table(table, os.path.join(out, "lineitem.parquet"))
    return {
        "records": n,
        "rows": n,
        "key_checksum": key_checksum(a["l_orderkey"], a["l_linenumber"]),
        "quantity_sum": int(a["l_quantity"].sum()),
        "price_cents": cents(price),
        "shipdate_days": int(a["ship_days"].sum()),
        "comment_chars": int(sum(len(c) for c in a["l_comment"])),
    }


def words(rng, vocab, k):
    return " ".join(np.array(vocab)[rng.integers(0, len(vocab), size=k)])


def gen_curation(rng, n, out):
    """A crawl with planted fates: each planted class is removed (or
    reshaped) by exactly one curation stage, so every stage's survivor
    count is known by construction."""
    # planted classes: chosen shares, one small class per stage to remove;
    # the test-data documents.parquet has none of them (no URLs, one
    # shared vocabulary, 0.16% exact duplicates)
    share = {"spam": 0.01, "german": 0.02, "degenerate": 0.01,
             "footer": 0.05, "dup": 0.02, "leak": 0.005, "fuzzy": 0.005}
    k = {c: max(4, int(round(n * s))) for c, s in share.items()}
    # one eval passage per leak: a passage shared by two crawl documents
    # would be cut by substring dedup before decontamination sees it
    probes = [words(rng, EN_WORDS, 56) for _ in range(k["leak"] + k["fuzzy"])]
    footers = [words(rng, EN_WORDS, 9) for _ in range(3)]
    n_clean = n - sum(k.values()) - k["dup"]  # each dup is a pair
    docs = []  # (text, fate)
    # clean documents are 10-100 words, uniform, as measured on the
    # test-data documents.parquet (5,000 docs; 5/25/50/75/95th
    # percentiles 14/32/54/76/94 words)
    for _ in range(n_clean):
        docs.append((words(rng, EN_WORDS, int(rng.integers(10, 101))), "clean"))
    for _ in range(k["spam"]):
        docs.append((words(rng, EN_WORDS, 30) + " see http://shop.spam.example.com/deal "
                     + words(rng, EN_WORDS, 20), "spam"))
    for _ in range(k["german"]):
        docs.append((words(rng, DE_WORDS, int(rng.integers(40, 100))), "german"))
    for _ in range(k["degenerate"]):
        docs.append((" ".join(["buy now"] * int(rng.integers(25, 40))), "degenerate"))
    for i in range(k["footer"]):
        docs.append((words(rng, EN_WORDS, int(rng.integers(40, 100))) + "\n"
                     + footers[i % len(footers)], "footer"))
    # exact duplicate pairs, shorter than the 50-token substring-dedup
    # window so both copies reach soft dedup intact (weight 1/2 each)
    dup_texts = [words(rng, EN_WORDS, int(rng.integers(20, 45)))
                 for _ in range(k["dup"])]
    docs.extend((t, "dup") for t in dup_texts for _ in range(2))
    leak_chars = 0
    for i in range(k["leak"]):
        probe = probes[i]
        leak_chars += len(probe)
        docs.append((words(rng, EN_WORDS, 24) + " " + probe, "leak"))
    for i in range(k["fuzzy"]):
        t = probes[k["leak"] + i].split(" ")
        t[27] = t[27] + "q"  # one mid-passage edit: no 50-token verbatim run
        docs.append((" ".join(t), "fuzzy"))

    order = rng.permutation(len(docs))
    doc_ids = rng.choice(np.arange(1, 50 * n), size=len(docs), replace=False)
    rows = [(int(doc_ids[p]), docs[i][0], docs[i][1])
            for p, i in enumerate(order)]
    for sub in ("crawl", "seed", "bench"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "text": pa.array([r[1] for r in rows], pa.string())}),
                   os.path.join(out, "crawl", "documents.parquet"))
    labeled = ([(words(rng, EN_WORDS, 12), "en") for _ in range(150)]
               + [(words(rng, DE_WORDS, 12), "de") for _ in range(150)])
    pq.write_table(pa.table({"text": [t for t, _ in labeled],
                             "lang": [l for _, l in labeled]}),
                   os.path.join(out, "seed", "labeled.parquet"))
    pq.write_table(pa.table({"text": probes}),
                   os.path.join(out, "bench", "eval.parquet"))

    fate = np.array([r[2] for r in rows])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    after_urls = len(rows) - k["spam"]
    after_rep = after_urls - k["german"] - k["degenerate"]
    kept = ~np.isin(fate, ["spam", "german", "degenerate", "fuzzy"])
    return {
        "records": len(rows),
        "rows": int(kept.sum()),
        "survivors": {"input": len(rows), "after_urls": after_urls,
                      "after_repetition": after_rep,
                      "after_dedup": after_rep,
                      "after_decontamination": after_rep - k["fuzzy"],
                      "kept": int(kept.sum())},
        "id_checksum": int(ids[kept].sum()),
        "weighted_rows": 2 * k["dup"],
        "contaminated_rows": k["leak"],
        "contaminated_chars": leak_chars,
        "footers": footers,
    }


GENERATORS = {"csv_ingest": gen_csv_ingest,
              "jdbc_roundtrip": gen_jdbc_roundtrip,
              "curation": gen_curation}


def generate(workload, seed, out, size=None):
    """Writes the inputs and expected.json under `out`; returns expected."""
    os.makedirs(out, exist_ok=True)
    n = size if size is not None else SIZES[workload]
    expected = GENERATORS[workload](rng_for(workload, seed), n, out)
    expected["workload"] = workload
    expected["seed"] = int(seed)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def input_digest(out):
    """sha256 over every generated file (path and bytes), in path order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
