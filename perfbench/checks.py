"""Output checks: every job's output, read back with pyarrow, against the
generator's expected.json. A check returns the list of mismatches; an
empty list means the job's output is correct."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import gen

CURATION_STAGES = ("input", "after_urls", "after_repetition", "after_dedup",
                   "after_decontamination", "kept")


def disk_usage(path):
    """(bytes, files) of every regular file under `path`."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def read(path):
    """All parquet files under `path` as one table (Spark's directory
    layout: hidden and `_` files are skipped; `shard=N` dirs ignored)."""
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    return ds.dataset(path, format="parquet", partitioning=None).to_table()


def col(table, name):
    """Column by case-insensitive name (JDBC engines may fold case)."""
    for n in table.column_names:
        if n.lower() == name:
            return table.column(n)
    raise KeyError(name)


def ints(c):
    return np.asarray(c.to_numpy(zero_copy_only=False), dtype=np.int64)


def epoch_days(c):
    if pa.types.is_timestamp(c.type):
        c = pc.cast(c, pa.date32())
    return ints(pc.cast(c, pa.int32()))


def compare(problems, what, got, want):
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


def check_csv_ingest(exp, out, info, problems):
    t = read(os.path.join(out, "lineitem.parquet"))
    compare(problems, "rows", t.num_rows, exp["rows"])
    compare(problems, "reported rows", info.get("rows"), exp["rows"])
    compare(problems, "reported rejected rows", info.get("rejected_rows"),
            exp["rejected_rows"])
    compare(problems, "key checksum",
            gen.key_checksum(ints(col(t, "l_orderkey")), ints(col(t, "l_linenumber"))),
            exp["key_checksum"])
    compare(problems, "quantity sum", int(ints(col(t, "l_quantity")).sum()),
            exp["quantity_sum"])
    compare(problems, "revenue cents",
            gen.cents(col(t, "revenue").to_numpy(zero_copy_only=False)),
            exp["revenue_cents"])
    compare(problems, "shipdate days", int(epoch_days(col(t, "l_shipdate")).sum()),
            exp["shipdate_days"])
    q = read(os.path.join(out, "rejects.parquet"))
    compare(problems, "rejected rows", q.num_rows, exp["rejected_rows"])
    compare(problems, "rejected linenumber sum",
            int(ints(col(q, "l_linenumber")).sum()), exp["rejected_linenumber_sum"])


def check_jdbc_roundtrip(exp, out, info, problems):
    t = read(os.path.join(out, "roundtrip.parquet"))
    compare(problems, "rows", t.num_rows, exp["rows"])
    compare(problems, "reported rows", info.get("rows"), exp["rows"])
    compare(problems, "rows written", info.get("rows_written"), exp["rows"])
    compare(problems, "key checksum",
            gen.key_checksum(ints(col(t, "l_orderkey")), ints(col(t, "l_linenumber"))),
            exp["key_checksum"])
    compare(problems, "quantity sum", int(ints(col(t, "l_quantity")).sum()),
            exp["quantity_sum"])
    compare(problems, "price cents",
            gen.cents(col(t, "l_extendedprice").to_numpy(zero_copy_only=False)),
            exp["price_cents"])
    compare(problems, "shipdate days", int(epoch_days(col(t, "l_shipdate")).sum()),
            exp["shipdate_days"])
    compare(problems, "comment chars",
            int(pc.sum(pc.utf8_length(col(t, "l_comment"))).as_py()),
            exp["comment_chars"])


def check_curation(exp, out, info, problems):
    compare(problems, "exit code", info.get("exit_code"), 0)
    if "survivors" in info:  # traced jobs observe every stage's count
        compare(problems, "stage survivors", info["survivors"], exp["survivors"])
    t = read(os.path.join(out, "corpus"))
    compare(problems, "rows", t.num_rows, exp["rows"])
    compare(problems, "id checksum", int(ints(col(t, "doc_id")).sum()),
            exp["id_checksum"])
    weight = col(t, "weight").to_numpy(zero_copy_only=False)
    compare(problems, "down-weighted duplicates", int((weight < 1.0).sum()),
            exp["weighted_rows"])
    chars = ints(col(t, "contaminated_chars"))
    compare(problems, "excised documents", int((chars > 0).sum()),
            exp["contaminated_rows"])
    compare(problems, "excised chars", int(chars.sum()), exp["contaminated_chars"])
    text = col(t, "text")
    left = sum(int(pc.sum(pc.match_substring(text, f)).as_py() or 0)
               for f in exp["footers"])
    compare(problems, "documents still carrying a shared footer", left, 0)


CHECKS = {"csv_ingest": check_csv_ingest,
          "jdbc_roundtrip": check_jdbc_roundtrip,
          "curation": check_curation}


def check(workload, expected, out, info):
    problems = []
    try:
        CHECKS[workload](expected, out, info, problems)
    except (OSError, KeyError, ValueError, pa.ArrowException) as e:
        problems.append(f"unreadable output: {type(e).__name__}: {e}")
    return problems
