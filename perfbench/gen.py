"""Seeded input generators for the benchmark.

Every generator takes its seed as an argument and draws from its own
numpy PCG64 stream, so the same seed writes the same bytes:

  * tpch(dir, seed)          -- TPC-H-shaped star schema plus the events,
                                documents and embeddings tables the registry
                                queries read (sf0.1 row counts);
  * epg_day(seed, day_index) -- one OTR-style EPG day as `;`-CSV text;
  * dml_oplog(seed, ...)     -- the table_dml operation log (JSON lines).

The EPG days and the operation log depend on the run's seed; the
analytics tables use the fixed TPCH_SEED so that their oracle digests
can be kept with the benchmark.
"""
import datetime as dt
import json
import os

import numpy as np

# Bump when a generator's output changes: cached inputs are keyed by it.
VERSION = 6

# The data seed of the analytics tables. The oracle digests in
# oracle_digests.json were computed over exactly these tables.
TPCH_SEED = 20210305

# One EPG day is a gap-free 24-hour schedule on each channel of SENDERS.
# The channel count and the listings per channel (a mean listing of one
# hour) are assumptions, not figures taken from a published OTR EPG.
EPG_LISTINGS_PER_SENDER = 24
EPG_FIRST_DAY = dt.date(2021, 3, 7)  # the day after the checked-in fixtures

SENDERS = ["Das Erste", "ZDF", "RTL", "SAT.1", "Pro Sieben", "Kabel Eins",
           "VOX", "RTL 2", "Arte", "3sat", "Phoenix", "KiKA", "ZDFneo",
           "ONE", "tagesschau24", "BR", "HR", "MDR", "NDR", "RBB", "SWR",
           "WDR", "Super RTL", "Tele 5", "Sixx", "DMAX", "Nitro", "Comedy Central"]
EPG_ROWS_PER_DAY = len(SENDERS) * EPG_LISTINGS_PER_SENDER
WORDS = ["Tatort", "Nacht", "Leben", "Reise", "Haus", "Welt", "Stadt", "Spiel",
         "Wetter", "Nachrichten", "Krimi", "Liebe", "Berg", "Meer", "Zeit", "Familie",
         "Kinder", "Abend", "Morgen", "Sport", "Geschichte", "Natur", "Wissen", "Musik"]
TYPES = ["Serie", "Film", "Show", "Doku", "Nachrichten", "Sport"]
WEEKDAYS = ["Mo", "Di", "Mi", "Do", "Fr", "Sa", "So"]
EPG_HEADER = ("Id;beginn;ende;dauer;sender;titel;typ;text;zusatz;wdh;genre_id;"
              "fsk;weekday;language;downloadlink;infolink;programlink")


def _rng(seed, *stream):
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def epg_day_key(day_index):
    return (EPG_FIRST_DAY + dt.timedelta(days=day_index)).strftime("%Y_%m_%d")


def epg_day(seed, day_index):
    """One EPG day file: on every channel, EPG_LISTINGS_PER_SENDER
    listings on quarter-hour boundaries that tile the day from 00:00 to
    24:00, rows in order of begin time. Every listing begins inside its
    own day, so the file lands in exactly one partition and the next
    day's presence guard is not tripped by spillover. Ids are unique
    across days and disjoint from the fixture ids."""
    r = _rng(seed, 1, day_index)
    day = EPG_FIRST_DAY + dt.timedelta(days=day_index)
    start = dt.datetime(day.year, day.month, day.day)
    quarters = 24 * 4
    begin_min, dauer, sender = [], [], []
    for s in range(len(SENDERS)):
        cuts = np.sort(r.choice(np.arange(1, quarters), EPG_LISTINGS_PER_SENDER - 1,
                                replace=False))
        edges = np.concatenate([[0], cuts, [quarters]]) * 15
        begin_min += edges[:-1].tolist()
        dauer += np.diff(edges).tolist()
        sender += [s] * EPG_LISTINGS_PER_SENDER
    order = np.lexsort((sender, begin_min))
    begin_min, dauer, sender = (np.array(x)[order] for x in (begin_min, dauer, sender))
    rows = len(order)
    w1, w2, w3 = (r.integers(0, len(WORDS), rows) for _ in range(3))
    typ = r.integers(0, len(TYPES), rows)
    genre = r.choice([1, 2, 3, 4, 99], rows)
    fsk = r.choice([0, 6, 12, 16, 18], rows)
    lang = r.choice(["de", "en", "fr"], rows, p=[0.85, 0.1, 0.05])
    wdh = r.random(rows) < 0.3
    fmt = "%d.%m.%Y %H:%M:%S"
    lines = [EPG_HEADER]
    for i in range(rows):
        rid = 1_000_000 + day_index * 10_000 + i
        b = start + dt.timedelta(minutes=int(begin_min[i]))
        e = b + dt.timedelta(minutes=int(dauer[i]))
        titel = f"{WORDS[w1[i]]} {WORDS[w2[i]]} {i}"
        text = f"{WORDS[w3[i]]} und {WORDS[w1[i]]} im {SENDERS[sender[i]]}"
        lines.append(";".join([
            str(rid), b.strftime(fmt), e.strftime(fmt), str(dauer[i]),
            SENDERS[sender[i]], titel, TYPES[typ[i]], text, "",
            "Wdh" if wdh[i] else "", str(genre[i]), str(fsk[i]),
            WEEKDAYS[day.weekday()], lang[i], f"http://dl/{rid}",
            f"http://info/{rid}", f"http://prog/{rid}"]))
    return "\n".join(lines) + "\n"


def epg_german_keys(text):
    """(PartitionKey, RowKey, titel) of the German rows of one EPG file:
    what the recordings table must hold for it."""
    out = []
    for line in text.splitlines()[1:]:
        f = line.split(";")
        if f[13] == "de":
            d = dt.datetime.strptime(f[1], "%d.%m.%Y %H:%M:%S")
            out.append((d.strftime("%Y_%m_%d"), f[0], f[5]))
    return out


# ------------------------------------------------------------- table_dml

# Fixed shares of one block of the operation log: every block holds one
# statement of each kind. Its writes come first, in the fixed order of a
# daily batch (upserts, corrections, late rows, retention deletes), then
# its reads in a seeded order, with the registry queries at seeded places
# among them; the view refresh and the compact + vacuum pair close the
# block. Any run of whole blocks has the same statement mix, and reads
# never look back across a compaction or the initial load, whatever the
# seed. (A MERGE that follows a DELETE pays for its deletion vectors and
# takes about twice as long, so a seeded write order would make the
# block's cost depend on the seed.)
DML_WRITES = ("merge", "update", "insert", "delete")
DML_READS = ("point", "range", "time_travel", "cdc")
DML_MAINTENANCE = ("refresh", "compact", "vacuum")
MERGE_ROWS = 40      # matched rows per MERGE batch
MERGE_NEW_ROWS = 3   # unmatched (inserted) rows per MERGE batch
UPDATE_MOD = 10      # an UPDATE changes one order key in 10 of one ship month
DELETE_MOD = 50      # a DELETE removes one order key in 50 of one ship month
INSERT_ROWS = 25     # rows per INSERT INTO
KEEP_VERSIONS = 6    # vacuum keeps more versions than time travel goes back
MAX_BACK = 3
MONTHS = [f"{y}-{m:02d}" for y in range(1995, 2002) for m in range(1, 13)]
LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
           "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
           "l_shipdate", "ship_month"]
LI_TYPES = ["BIGINT", "BIGINT", "BIGINT", "INT", "BIGINT", "DOUBLE", "DOUBLE", "DOUBLE",
            "VARCHAR", "VARCHAR", "TIMESTAMP", "VARCHAR"]


def _values(rows):
    """A typed inline relation of lineitem rows, valid in Spark SQL and
    DuckDB alike."""
    def lit(v, t):
        if t == "TIMESTAMP":
            return f"TIMESTAMP '{v}'"
        if t == "VARCHAR":
            return f"'{v}'"
        return repr(v)
    tuples = ", ".join("(" + ", ".join(lit(v, t) for v, t in zip(r, LI_TYPES)) + ")"
                       for r in rows)
    names = ", ".join(f"c{i}" for i in range(len(LI_COLS)))
    sel = ", ".join(f"CAST(c{i} AS {'STRING' if t == 'VARCHAR' else t}) AS {c}"
                    for i, (c, t) in enumerate(zip(LI_COLS, LI_TYPES)))
    return f"(SELECT {sel} FROM (VALUES {tuples}) AS v({names}))"


def _row(li, i, **over):
    r = [int(li["l_orderkey"][i]), int(li["l_partkey"][i]), int(li["l_suppkey"][i]),
         int(li["l_linenumber"][i]), int(li["l_quantity"][i]),
         float(li["l_extendedprice"][i]), float(li["l_discount"][i]), float(li["l_tax"][i]),
         str(li["l_returnflag"][i]), str(li["l_linestatus"][i]),
         str(li["l_shipdate"][i]).replace("T", " ")[:19], str(li["ship_month"][i])]
    for k, v in over.items():
        r[LI_COLS.index(k)] = v
    return r


def lineitem_arrays(tpch_dir):
    """The lineitem columns the operation log draws its keys and rows from."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(tpch_dir, "lineitem.parquet"))
    li = {c: t.column(c).to_numpy() for c in LI_COLS[:-1]}
    li["l_shipdate"] = li["l_shipdate"].astype("datetime64[s]")
    li["ship_month"] = np.datetime_as_string(li["l_shipdate"], unit="M")
    return li


def dml_oplog(seed, blocks, li, pool):
    """The table_dml operation log: `blocks` blocks as described at
    DML_WRITES, with one read-only registry query per registry of `pool`
    ({query: registry}) run against the analytics tables.
    Each entry carries the statement for the GraftCatalog table (`sql`,
    `{cat}` and `{v}` filled in at run time) and for the plain reference
    replay (`ref`). Statements pick full ship months; merge batches skew
    toward recent ones; inserted rows take fresh order keys."""
    r = _rng(seed, 2)
    by_month = {m: np.flatnonzero(li["ship_month"] == m) for m in MONTHS}
    # statements touch only full months: the ramp-up and ramp-down months
    # at either end of the ship dates hold a fraction of a month's rows,
    # and a statement's changed rows and rewritten bytes follow its month
    full = 0.9 * np.median([len(by_month[m]) for m in MONTHS if len(by_month[m])])
    months = np.array([m for m in MONTHS if len(by_month[m]) >= full])
    recent = list(months[-24:])
    weight = np.linspace(1, 4, len(recent))
    fresh = int(li["l_orderkey"].max()) + 1
    t_sql, t_ref = "{cat}.db.li", "li"
    by_registry = {}
    for q, reg in sorted(pool.items()):
        by_registry.setdefault(reg, []).append(q)
    ops = []

    def emit(block, kind, sql, ref, **extra):
        ops.append({"block": block, "kind": kind, "sql": sql, "ref": ref, **extra})

    def new_rows(n, month):
        nonlocal fresh
        idx = by_month[month][r.integers(0, len(by_month[month]), n)]
        rows = [_row(li, i, l_orderkey=fresh + j, l_linenumber=1) for j, i in enumerate(idx)]
        fresh += n
        return rows

    for b in range(blocks):
        regs = iter(sorted(by_registry))
        body = list(DML_WRITES) + list(r.permutation(DML_READS))
        for _ in by_registry:
            body.insert(int(r.integers(0, len(body) + 1)), "analytics")
        for kind in body + list(DML_MAINTENANCE):
            kind = str(kind)
            if kind == "analytics":
                # each registry's query alternates by block, not by seed: a
                # run covers whole blocks, so every seed runs the same queries
                reg = next(regs)
                qs = by_registry[reg]
                emit(b, kind, None, None, query=qs[b % len(qs)], registry=reg)
            elif kind == "merge":
                month = recent[r.choice(len(recent), p=weight / weight.sum())]
                pool = by_month[month]
                pick = r.choice(pool, min(len(pool), MERGE_ROWS), replace=False)
                d = int(r.integers(1, 9))
                rows = [_row(li, i, l_quantity=int(li["l_quantity"][i]) + d, l_linestatus="O")
                        for i in pick] + new_rows(MERGE_NEW_ROWS, month)
                src = _values(rows)
                on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
                ins = ", ".join(LI_COLS)
                emit(b, kind,
                     f"MERGE INTO {t_sql} t USING {src} s ON {on} "
                     f"WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity, "
                     f"l_linestatus = s.l_linestatus "
                     f"WHEN NOT MATCHED THEN INSERT ({ins}) VALUES "
                     f"({', '.join('s.' + c for c in LI_COLS)})",
                     f"INSERT INTO {t_ref} SELECT * FROM {src} "
                     f"ON CONFLICT (l_orderkey, l_linenumber) DO UPDATE SET "
                     f"l_quantity = excluded.l_quantity, l_linestatus = excluded.l_linestatus")
            elif kind == "update":
                m, d = months[r.integers(len(months))], int(r.integers(1, 5))
                w = (f"SET l_quantity = l_quantity + {d} WHERE ship_month = '{m}' "
                     f"AND l_orderkey % {UPDATE_MOD} = {int(r.integers(0, UPDATE_MOD))}")
                emit(b, kind, f"UPDATE {t_sql} {w}", f"UPDATE {t_ref} {w}")
            elif kind == "delete":
                m = months[r.integers(len(months))]
                w = f"WHERE ship_month = '{m}' AND l_orderkey % {DELETE_MOD} = {int(r.integers(0, DELETE_MOD))}"
                emit(b, kind, f"DELETE FROM {t_sql} {w}", f"DELETE FROM {t_ref} {w}")
            elif kind == "insert":
                src = _values(new_rows(INSERT_ROWS, recent[r.integers(len(recent))]))
                emit(b, kind, f"INSERT INTO {t_sql} SELECT * FROM {src}",
                     f"INSERT INTO {t_ref} SELECT * FROM {src}")
            elif kind == "point":
                i = int(r.integers(0, len(li["l_orderkey"])))
                q = ("SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q, "
                     "CAST(round(l_extendedprice * 100) AS BIGINT) AS p FROM {t} "
                     f"WHERE l_orderkey = {int(li['l_orderkey'][i])} "
                     f"AND l_linenumber = {int(li['l_linenumber'][i])}")
                emit(b, kind, q.format(t=t_sql), q.format(t=t_ref))
            elif kind == "range":
                q = ("SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS q FROM {t} "
                     f"WHERE ship_month = '{months[r.integers(len(months))]}'")
                emit(b, kind, q.format(t=t_sql), q.format(t=t_ref))
            elif kind == "time_travel":
                emit(b, kind, "SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS q "
                     f"FROM {t_sql} VERSION AS OF {{v}} "
                     f"WHERE ship_month = '{months[r.integers(len(months))]}'",
                     None, back=int(r.integers(1, MAX_BACK + 1)))
            elif kind == "cdc":
                emit(b, kind, "SELECT count(*) AS n FROM {cat}.db.li__changes VERSION AS OF {v}",
                     None, back=int(r.integers(1, MAX_BACK + 1)))
            elif kind == "refresh":
                emit(b, kind, "CALL {cat}.system.refresh_mview('db.mv')", None)
            elif kind == "compact":
                emit(b, kind, "CALL {cat}.system.compact('db.li', parallelism => 1)", None)
            elif kind == "vacuum":
                emit(b, kind, "CALL {cat}.system.vacuum('db.li', "
                     f"keep_versions => {KEEP_VERSIONS})", None)
    return ops


def dml_oplog_text(seed, blocks, li, pool):
    return "".join(json.dumps(op, sort_keys=True) + "\n"
                   for op in dml_oplog(seed, blocks, li, pool))


# ------------------------------------------------------------ tpch tables

def _ts(days_since_epoch_1995):
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return base + days_since_epoch_1995.astype("timedelta64[D]").astype("timedelta64[us]")


def tpch_tables(seed=TPCH_SEED, sf=0.1):
    """The analytics tables as pyarrow tables, same schemas as the
    registry's sf-directories."""
    import pyarrow as pa
    r = _rng(seed, 3)
    n_cust, n_supp, n_part, n_ord = (int(x * sf) for x in (150_000, 10_000, 200_000, 1_500_000))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(["large", "small", "hot", "cold", "blue", "old", "new", "red"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                                       noun[r.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(ptypes[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price)})
    odays = r.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_ts(odays)),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_ord)])})
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    pkey = r.integers(0, n_part, n_li).astype(np.int64)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_ts(np.repeat(odays, lines) + r.integers(1, 122, n_li)))})
    n_ev = int(1_000_000 * sf)
    us = np.sort(r.integers(0, 30 * 86400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])[
            r.choice(5, n_ev, p=[0.35, 0.05, 0.1, 0.05, 0.45])]),
        "value": pa.array(np.round(np.minimum(r.gamma(2.0, 25.0, n_ev), 560.0), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    vocab = np.array(("query row stream the spark line small fast group customer batch "
                      "sort value hash filter big data dup part column order scan a slow "
                      "agg key window table merge vector join").split())
    n_doc = int(50_000 * sf)
    texts = []
    for i in range(n_doc):
        u = r.random()
        if i > 10 and u < 0.02:      # exact duplicate of an earlier document
            texts.append(texts[r.integers(0, i)])
        elif i > 10 and u < 0.10:    # near duplicate: one word replaced
            w = texts[r.integers(0, i)].split(" ")
            w[r.integers(0, len(w))] = vocab[r.integers(0, len(vocab))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), r.integers(8, 96))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(["de", "en", "es", "fr", "zh"])[r.integers(0, 5, n_doc)]),
        "source": pa.array(np.char.add("src", r.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    n_vec = int(20_000 * sf)
    labels = r.integers(0, 10, n_vec)
    centroids = r.normal(0, 1, (10, 64))
    vec = centroids[labels] + r.normal(0, 0.6, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def write_tpch(out_dir, seed=TPCH_SEED, sf=0.1):
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tpch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
