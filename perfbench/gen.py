"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here from the seed alone, so the same
seed gives byte-identical files.  The engine only ever sees these files and
the FAME scripts written beside them.

Each generator writes into one directory and returns a small manifest
(row counts, file names, ground truth) that run.py hands to the JVM harness
and to the output checks.

Run `python3 perfbench/gen.py <workload> <seed> <dir>` to write one
workload's inputs by hand.
"""
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes.  They are fixed here, not taken from the command line, so
# that every run of a workload does the same amount of work.
KEYED_ENTITIES, KEYED_MONTHS = 200, 240
WIDE_STATEMENTS, WIDE_MONTHS = 120, 480
STREAM_ENTITIES, STREAM_FILES, STREAM_MONTHS_PER_FILE = 300, 3, 12
CORPUS_ORIGINALS = 1000          # plus 10% exact and 10% near duplicates
CORPUS_SOURCES = 20

KEYED_START = datetime.date(1995, 1, 1)
WIDE_START = datetime.date(1980, 1, 1)
STREAM_START = datetime.date(2000, 1, 1)


def months(start, n):
    out = []
    y, m = start.year, start.month
    for _ in range(n):
        out.append(datetime.date(y, m, 1))
        m += 1
        if m == 13:
            y, m = y + 1, 1
    return out


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 22)


def level_series(rng, n_ent, n_months):
    """Positive level series: a log random walk around 100 per entity."""
    base = rng.uniform(50.0, 200.0, size=(n_ent, 1))
    steps = rng.normal(0.004, 0.03, size=(n_ent, n_months))
    return base * np.exp(np.cumsum(steps, axis=1))


def panel_table(rng, n_ent, dates, names, prefix="E"):
    ents = [f"{prefix}{i:05d}" for i in range(n_ent)]
    cols = {"ENTITY": pa.array(np.repeat(ents, len(dates)).tolist(), pa.string()),
            "DATE": pa.array(dates * n_ent, pa.date32())}
    for name in names:
        cols[name] = pa.array(level_series(rng, n_ent, len(dates)).ravel(), pa.float64())
    return pa.table(cols)


# ---------------------------------------------------------------- FAME text
# A statement is rendered twice from one description: as FAME for the engine
# and as DuckDB SQL for the reference check.  `win` is the SQL window the
# script's lags run over (per ENTITY when the run is keyed).

class Expr:
    def __init__(self, fame, sql):
        self.fame, self.sql = fame, sql


def ref(name):
    return Expr(name.lower(), f'"{name.upper()}"')


def lag(name, k, win):
    return Expr(f"{name.lower()}[t-{k}]", f'LAG("{name.upper()}", {k}) OVER {win}')


def num(v):
    return Expr(repr(float(v)), f"CAST({float(v)!r} AS DOUBLE)")


def binop(op, a, b):
    return Expr(f"({a.fame} {op} {b.fame})", f"({a.sql} {op} {b.sql})")


def pct(name, k, win):
    cur = f'"{name.upper()}"'
    prev = f'LAG("{name.upper()}", {k}) OVER {win}'
    fame = f"pct({name.lower()})" if k == 1 else f"pct({name.lower()}, {k})"
    return Expr(fame, f"((({cur} - {prev}) / {prev}) * 100.0)")


def lsum(*args):
    return Expr("lsum(" + ", ".join(a.fame for a in args) + ")",
                "(" + " + ".join(f"COALESCE({a.sql}, 0.0)" for a in args) + ")")


def cond(a, cmp, b, then, other):
    sql_cmp = {"gt": ">", "lt": "<"}[cmp]
    return Expr(f"if {a.fame} {cmp} {b.fame} then {then.fame} else {other.fame}",
                f"(CASE WHEN {a.sql} {sql_cmp} {b.sql} THEN {then.sql} ELSE {other.sql} END)")


def lastvalue(name, part):
    return Expr(f"lastvalue({name.lower()})",
                f'LAST_VALUE("{name.upper()}" IGNORE NULLS) OVER ({part} ORDER BY "DATE" '
                "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")


def masked_sql(sql, lo, hi):
    return f"(CASE WHEN \"DATE\" BETWEEN DATE '{lo}' AND DATE '{hi}' THEN {sql} ELSE NULL END)"


# ------------------------------------------------------------ fame_keyed_batch

def keyed_script(dates):
    """The keyed model: each FAME feature the workload exercises, once.

    Returns the script text and the reference statements (target column,
    SQL) for the statements DuckDB can express."""
    win = '(PARTITION BY "ENTITY" ORDER BY "DATE")'
    lo, hi = dates[len(dates) // 4], dates[3 * len(dates) // 4]
    base_year = dates[0].year + 2
    stmts = []
    fame = ["freq m"]

    def add(target, e, mask=None):
        fame.append(f"{target} = {e.fame}")
        sql = e.sql if mask is None else masked_sql(e.sql, *mask)
        stmts.append({"target": target.upper(), "sql": sql})

    add("ga", pct("a", 1, win))
    add("gb", pct("b", 12, win))
    add("da", binop("-", ref("a"), lag("a", 1, win)))
    add("ratio", binop("/", ref("a"), ref("b")))
    add("mix", binop("/", binop("+", binop("*", ref("a"), num(0.4)),
                                binop("*", lag("b", 1, win), num(0.6))), ref("c")))
    add("tot", lsum(ref("a"), lag("b", 2, win), ref("c")))
    add("up", cond(ref("ga"), "gt", num(0.0), ref("a"), ref("b")))
    fame.append(f"date {lo} to {hi}")
    add("la", lastvalue("a", 'PARTITION BY "ENTITY"'), mask=(lo, hi))
    add("rel", binop("/", ref("a"), ref("la")), mask=(lo, hi))
    fame.append("date *")
    # down converts land on the quarter-start rows (suffix _QTRLY)
    fame.append("aq = convert(a, q, discrete, sum)")
    stmts.append({"target": "A_QTRLY",
                  "sql": 'CASE WHEN "DATE" = date_trunc(\'quarter\', "DATE") THEN '
                         'SUM("A") OVER (PARTITION BY "ENTITY", date_trunc(\'quarter\', "DATE")) '
                         "ELSE NULL END"})
    fame.append("bq = convert(b, q, discrete, average)")
    # kernels: no SQL reference, the run only has to complete
    fame.append("dm = convert(d, m, linear, average, q)")
    fame.append(f'ix = $chain("a - b", "{base_year}")')
    fame.append(f"fv = fishvol_rebase({{a, b}}, {{pa, pb}}, {base_year})")
    fame.append("hp = nlrx(1600, c, c, c, c, c, c, c)")
    fame.append("lv = d")
    fame.append(f"date {dates[0]} to {dates[-1]}")
    fame.append("lv[t] = lv[t+1] / (1 + (pct(c[t+1]) / 100))")
    fame.append("date *")
    return "\n".join(fame) + "\n", stmts


def gen_keyed(seed, out):
    rng = np.random.default_rng([seed, 1])
    dates = months(KEYED_START, KEYED_MONTHS)
    # four level series, and the prices PA, PB that $chain and fishvol
    # pair with the volumes A, B
    table = panel_table(rng, KEYED_ENTITIES, dates, ["A", "B", "C", "D", "PA", "PB"])
    write_parquet(table, os.path.join(out, "panel.parquet"))
    script, ref_stmts = keyed_script(dates)
    return {"script": script, "reference": ref_stmts, "keys": ["ENTITY", "DATE"],
            "rows": table.num_rows}


# ------------------------------------------------------------ fame_wide_script

def wide_script(shape, rng, n_stmts, dates, inputs):
    """A random DAG of arithmetic, lags, pct, lsum, masks and conditionals.

    `shape` draws the DAG: statement kinds, operands and mask placement.
    `rng` draws what does not change the work: constants, comparison and
    operand order, and mask dates.  gen_wide seeds `shape` with a constant,
    so every seed runs the same amount of work.

    Operands are drawn mostly from the last few statements, so the DAG is
    many levels deep.  Each series carries a sign class: only series that
    are positive by construction (levels, their means, ratios and lags) are
    ever used as a divisor."""
    win = '(ORDER BY "DATE")'
    positive = list(inputs)
    anyseries = list(inputs)
    fame = ["freq m"]
    stmts = []
    mask = None

    def pick(pool):
        recent = pool[-8:]
        return recent[shape.integers(len(recent))] if shape.random() < 0.75 \
            else pool[shape.integers(len(pool))]

    def two(pool):
        a, b = pick(pool), pick(pool)
        if a == b:
            b = pool[-1] if a != pool[-1] else pool[-2]
        return (a, b) if rng.random() < 0.5 else (b, a)

    for i in range(n_stmts):
        if mask is None and shape.random() < 0.04:
            a, b = sorted(rng.choice(len(dates), size=2, replace=False))
            mask = [dates[a], dates[b], int(shape.integers(3, 8))]
            fame.append(f"date {mask[0]} to {mask[1]}")
        kind = shape.choice(["mean", "sub", "scale", "ratio", "lag", "pct", "lsum", "cond"],
                            p=[0.16, 0.12, 0.12, 0.14, 0.14, 0.1, 0.1, 0.12])
        target = f"s{i:04d}"
        pos = True
        if kind == "mean":
            x, y = two(positive)
            e = binop("*", binop("+", ref(x), ref(y)), num(0.5))
        elif kind == "sub":
            x, y = two(anyseries)
            e, pos = binop("-", ref(x), lag(y, 1, win)), False
        elif kind == "scale":
            e = binop("*", ref(pick(positive)), num(round(float(rng.uniform(0.5, 1.5)), 3)))
        elif kind == "ratio":
            x, y = two(positive)
            e = binop("*", binop("/", ref(x), ref(y)), num(100.0))
        elif kind == "lag":
            e = lag(pick(positive), int(shape.integers(1, 4)), win)
        elif kind == "pct":
            e, pos = pct(pick(positive), 1, win), False
        elif kind == "lsum":
            # lsum treats missing as 0, so it can be 0: never a divisor
            x, y = two(anyseries)
            e, pos = lsum(ref(x), lag(y, 1, win)), False
        else:
            x, y = two(anyseries)
            p, q = two(positive)
            e = cond(ref(x), rng.choice(["gt", "lt"]), ref(y), ref(p), ref(q))
        fame.append(f"{target} = {e.fame}")
        sql = e.sql if mask is None else masked_sql(e.sql, mask[0], mask[1])
        stmts.append({"target": target.upper(), "sql": sql})
        (positive if pos else anyseries).append(target)
        if pos:
            anyseries.append(target)
        if mask is not None:
            mask[2] -= 1
            if mask[2] == 0:
                fame.append("date *")
                mask = None
    if mask is not None:
        fame.append("date *")
    return "\n".join(fame) + "\n", stmts


def gen_wide(seed, out):
    rng = np.random.default_rng([seed, 2])
    dates = months(WIDE_START, WIDE_MONTHS)
    names = ["A", "B", "C", "D", "E", "F"]
    levels = level_series(rng, len(names), len(dates))
    cols = {"DATE": pa.array(dates, pa.date32())}
    for j, n in enumerate(names):
        cols[n] = pa.array(levels[j], pa.float64())
    table = pa.table(cols)
    write_parquet(table, os.path.join(out, "series.parquet"))
    shape = np.random.default_rng(20240601)
    script, ref_stmts = wide_script(shape, rng, WIDE_STATEMENTS, dates, names)
    return {"script": script, "reference": ref_stmts, "keys": ["DATE"],
            "rows": table.num_rows}


# ----------------------------------------------------------------- fame_stream

STREAM_SCRIPT = """freq m
g = pct(a)
d = a - a[t-1]
s = lsum(a, b[t-1])
r = s / c
aq = convert(a, q, discrete, sum)
"""


def gen_stream(seed, out):
    rng = np.random.default_rng([seed, 3])
    n_months = STREAM_FILES * STREAM_MONTHS_PER_FILE
    dates = months(STREAM_START, n_months)
    full = panel_table(rng, STREAM_ENTITIES, dates, ["A", "B", "C"], prefix="S")
    src = os.path.join(out, "stream_src")
    os.makedirs(src, exist_ok=True)
    # row r of the full table is (entity r // n_months, month r % n_months)
    month_idx = np.tile(np.arange(n_months), STREAM_ENTITIES)
    files = []
    for f in range(STREAM_FILES):
        lo, hi = f * STREAM_MONTHS_PER_FILE, (f + 1) * STREAM_MONTHS_PER_FILE
        take = np.nonzero((month_idx >= lo) & (month_idx < hi))[0]
        name = f"part-{f:03d}.parquet"
        path = os.path.join(src, name)
        write_parquet(full.take(pa.array(take)), path)
        # the file source orders files by modification time: pin it
        os.utime(path, (1_000_000_000 + f, 1_000_000_000 + f))
        files.append(name)
    return {"script": STREAM_SCRIPT, "files": files, "keys": ["ENTITY", "DATE"],
            "rows": full.num_rows, "rows_per_file": full.num_rows // STREAM_FILES}


# ------------------------------------------------------------- corpus_pipeline

EN_STOP = ["the", "and", "of", "to", "is", "in", "that", "it"]
ES_STOP = ["el", "la", "de", "que", "y", "los", "las", "una"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da",
             "zu", "ri", "mo", "ba", "fe", "gu", "ho", "ji", "ke", "wa"]


def vocabulary(rng, n, stop):
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(SYLLABLES[j] for j in rng.integers(len(SYLLABLES), size=k)))
    words = sorted(words)
    rng.shuffle(words)
    return stop + words


def zipf_probs(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def doc_words(rng, vocab, probs, n):
    return [vocab[j] for j in rng.choice(len(vocab), size=n, p=probs)]


def render(words):
    out = []
    for i, w in enumerate(words):
        out.append(w)
        if i % 13 == 12:
            out[-1] += "."
    return " ".join(out)


def gen_corpus(seed, out):
    rng = np.random.default_rng([seed, 4])
    en = vocabulary(rng, 3000, EN_STOP)
    es = vocabulary(rng, 3000, ES_STOP)
    probs = zipf_probs(len(en))
    originals = []
    for _ in range(CORPUS_ORIGINALS):
        lang = "es" if rng.random() < 0.1 else "en"
        words = doc_words(rng, es if lang == "es" else en, probs, int(rng.integers(40, 160)))
        originals.append((lang, words))
    n_orig = len(originals)
    n_exact = n_orig // 10
    n_near = n_orig // 10
    docs = [(i, render(w), lang, int(rng.integers(CORPUS_SOURCES)))
            for i, (lang, w) in enumerate(originals)]
    exact_groups = {}
    for j, src in enumerate(rng.choice(n_orig, size=n_exact, replace=False)):
        doc_id = n_orig + j
        docs.append((doc_id, docs[src][1], docs[src][2], int(rng.integers(CORPUS_SOURCES))))
        exact_groups.setdefault(int(src), [int(src)]).append(doc_id)
    near_pairs = []
    near_src = rng.choice(n_orig, size=n_near, replace=False)
    for j, src in enumerate(near_src):
        lang, words = originals[src]
        words = list(words)
        vocab = es if lang == "es" else en
        # replace ~3% of the words: a near duplicate, not an exact one
        for pos in rng.choice(len(words), size=max(1, len(words) // 33), replace=False):
            words[pos] = vocab[int(rng.integers(len(vocab)))]
        doc_id = n_orig + n_exact + j
        docs.append((doc_id, render(words), lang, int(rng.integers(CORPUS_SOURCES))))
        near_pairs.append([int(src), doc_id])
    order = rng.permutation(len(docs))
    docs = [docs[k] for k in order]
    table = pa.table({
        "id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([d[2] for d in docs], pa.string()),
        "source": pa.array([f"src{d[3]:02d}" for d in docs], pa.string()),
    })
    write_parquet(table, os.path.join(out, "corpus.parquet"))
    return {"rows": table.num_rows,
            "exact_groups": sorted(exact_groups.values()),
            "near_pairs": sorted(near_pairs)}


GENERATORS = {
    "fame_keyed_batch": gen_keyed,
    "fame_wide_script": gen_wide,
    "fame_stream": gen_stream,
    "corpus_pipeline": gen_corpus,
}


def generate(workload, seed, out):
    """Write the workload's inputs to `out` (created) and its manifest.json."""
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, out)
    manifest["workload"] = workload
    manifest["seed"] = seed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    if "script" in manifest:
        with open(os.path.join(out, "script.fame"), "w") as f:
            f.write(manifest["script"])
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
