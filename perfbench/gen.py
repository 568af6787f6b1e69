"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random``-compatible integer seed and an
output directory, writes the files the program will read, and returns the
facts the output checks need (expected row counts, checksums, shares).
The same seed always writes byte-identical files.

Only numpy, pandas and pyarrow are used: the program under test never
sees how its inputs were made.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# etl_fleet: messy ANATEL-layout wide files (FIXTURES.md section 2)
# --------------------------------------------------------------------------

IDA_METRIC = "Indicador de Desempenho no Atendimento (IDA)"
INDICATORS = [
    IDA_METRIC,
    "Taxa de Resolvidas em 5 dias úteis",
    "Taxa de Reabertas",
]
#: The six groups the consolidacao_de_metricas view pivots, plus smaller
#: ones that only feed the average.
GROUPS = ["ALGAR", "CLARO", "OI", "TIM", "VIVO", "NEXTEL",
          "SERCOMTEL", "SKY", "NET", "EMBRATEL", "GVT", "CTBC"]
SERVICES = ["SCM", "SMP", "STFC"]
OPERATORS = {"CLARO": ["CLARO S.A.", "CLARO NXT"], "VIVO": ["TELEFONICA", "VIVO S.A."]}

#: Fleet shape: one file per (service, year). Two files keep one
#: operation (ingest every file, consolidate, write, reload, view) near
#: 6 s under local[4]: each file costs about 1.7 s of driver time.
FLEET = [
    # (service, year, encodings the seed picks from, has an OPERADORA column)
    ("SCM", 2021, ["utf-8"], False),
    ("SCM", 2022, ["latin-1", "cp1252"], True),
]
FLEET_GROUPS = 10
#: Invalid value tokens the reference maps to NULL (FIXTURES.md section 3).
NULL_TOKENS = ["", "ND", "N/D", "-", "--", "nan"]


def _render_value(rng: random.Random, cents: int) -> str:
    """One FIXTURES.md section-3 spelling of ``cents / 100``, chosen by the
    seed. Every spelling parses back to exactly ``cents / 100``."""
    units, frac = divmod(cents, 100)
    form = rng.randrange(6)
    if form == 0:  # decimal comma, trailing zero kept: '85,50'
        return f"{units},{frac:02d}"
    if form == 1 and units >= 1000:  # thousands dot + decimal comma
        return f"{units // 1000}.{units % 1000:03d},{frac:02d}"
    if form == 2:  # plain decimal point with trailing zeros: '85.50'
        return f"{units}.{frac:02d}"
    if form == 3 and frac == 0:  # integer
        return str(units)
    if form == 4:  # padded decimal comma: ' 85,5 '
        return f" {units},{frac:02d} "
    return f"R$ {units},{frac:02d}" if rng.random() < 0.5 else f"{units}.{frac:02d}"


def gen_fleet(seed: int, out_dir: str) -> dict:
    """Write one wide TSV per (service, year) and return the expected fact.

    Layout per file: 2-5 preamble rows padded to full width, a header row
    (``GRUPO ECONÔMICO`` or ``GRUPO_ECON``, ``VARIAVEL``, optional
    ``OPERADORA``, month labels as ``YYYY-MM`` or ``YYYY-MM-01 00:00:00``),
    data rows, blank rows and a footer. A file whose service has a file for
    the previous year repeats that year's December column with identical
    values, so rows are duplicated across files and ``consolidate`` must
    drop them.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    groups = GROUPS[:6] + rng.sample(GROUPS[6:], FLEET_GROUPS - 6)
    # the cell value of one (service, group, indicator, operator, month)
    values: dict[tuple, int | None] = {}

    def value(key: tuple) -> int | None:
        if key not in values:
            values[key] = None if rng.random() < 0.04 else rng.randrange(500, 250_000)
        return values[key]

    facts: set[tuple] = set()
    files = []
    lines_in = long_rows = 0
    for svc, year, encodings, with_operator in FLEET:
        enc = rng.choice(encodings)
        months = [(year, m) for m in range(1, 13)]
        if (svc, year - 1) in {(s, y) for s, y, *_ in FLEET}:
            months = [(year - 1, 12)] + months  # repeats last year's December
        labels = [
            f"{y}-{m:02d}" if rng.random() < 0.5 else f"{y}-{m:02d}-01 00:00:00"
            for y, m in months
        ]
        id_cols = ["GRUPO ECONÔMICO" if rng.random() < 0.5 else "GRUPO_ECON", "VARIAVEL"]
        if with_operator:
            id_cols.append("OPERADORA")
        width = len(id_cols) + len(labels)
        pad = "\t" * (width - 1)
        # the en dash exists in cp1252 but not in latin-1
        dash = "–" if enc == "cp1252" else "-"
        lines = []
        n_data_rows = 0
        preamble = [
            "ÍNDICE DE DESEMPENHO NO ATENDIMENTO",
            f"SERVIÇO: {svc}",
            f"PERÍODO: {year}",
            f"ANATEL {dash} Agência Nacional de Telecomunicações",
            "Para maiores informações consulte o portal",
        ]
        for text in preamble[: rng.randint(2, 5)]:
            lines.append(text + pad)
        lines.append("\t".join(id_cols + labels))
        for g in groups:
            # only groups with several operators fill the OPERADORA cell;
            # the others leave it empty, so it reads as NULL like the
            # column a file without OPERADORA null-fills at union time
            ops = OPERATORS.get(g, [None]) if with_operator else [None]
            for ind in INDICATORS:
                for op in ops:
                    cells = [g, ind] + ([op or ""] if with_operator else [])
                    for (y, m) in months:
                        cents = value((svc, g, ind, op, y, m))
                        if cents is None:
                            cells.append(rng.choice(NULL_TOKENS))
                        else:
                            cells.append(_render_value(rng, cents))
                        facts.add((g, ind, op, dt.date(y, m, 1), cents, svc))
                    lines.append("\t".join(cells))
                    n_data_rows += 1
            if rng.random() < 0.2:
                lines.append(pad)  # blank row inside the data block
        lines.append(pad)
        lines.append("FONTE: ANATEL" + pad)
        path = os.path.join(out_dir, f"ida_{svc.lower()}_{year}.csv")
        with open(path, "w", encoding=enc, newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        files.append((path, svc, enc))
        lines_in += len(lines)
        long_rows += n_data_rows * len(months)
    non_null = [c for (*_, c, _s) in facts if c is not None]
    return {
        "files": files,
        "lines": lines_in,
        "long_rows": long_rows,
        "rows": len(facts),
        "valor_count": len(non_null),
        "valor_cents": sum(non_null),
    }


# --------------------------------------------------------------------------
# query_mix: star schema + events (FIXTURES.md section 4) and an IDA fact
# parquet (FIXTURES.md section 1)
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]

#: Table sizes of scale factor 0.1, the scale bench.py and TESTDATA.md use:
#: 150,000 orders with 1-7 line items each (about 600,000), 100,000 events
#: over 30 days.
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_USERS = 1_500
EVENT_DAYS = 30


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def gen_star(seed: int, out_dir: str) -> dict:
    """Write region/nation/customer/supplier/orders/lineitem/events parquet
    in the FIXTURES.md section-4 schemas, and ``ida_fact.parquet`` in the
    section-1 shape. Returns the table row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32 = np.int32
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
           f"{out_dir}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(len(NATIONS), dtype=i32),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": np.array([r for _, r in NATIONS], dtype=i32),
    }), f"{out_dir}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, len(NATIONS), N_CUSTOMERS).astype(i32),
        "c_acctbal": _money(rng, -999, 9999, N_CUSTOMERS),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
    }), f"{out_dir}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, len(NATIONS), N_SUPPLIERS).astype(i32),
        "s_acctbal": _money(rng, -999, 9999, N_SUPPLIERS),
    }), f"{out_dir}/supplier.parquet")
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 365 * 6 + 200, N_ORDERS).astype("timedelta64[D]")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 900, 450_000, N_ORDERS),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    }), f"{out_dir}/orders.parquet")
    per_order = rng.integers(1, 8, N_ORDERS)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), per_order)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1).astype(i32)
    ship = odate[okey] + rng.integers(1, 120, n_li).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PARTS, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n_li).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 9, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ship.astype("datetime64[us]"),
    }), f"{out_dir}/lineitem.parquet")
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(ts0 + rng.integers(0, EVENT_DAYS * 86_400 * 1_000_000, N_EVENTS).astype("timedelta64[us]"))
    _write(pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS, p=[0.5, 0.25, 0.08, 0.12, 0.05]),
        "value": _money(rng, 0, 100, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }), f"{out_dir}/events.parquet")
    ida_rows = gen_ida_fact(seed, f"{out_dir}/ida_fact.parquet")
    return {"orders": N_ORDERS, "lineitem": n_li, "events": N_EVENTS, "ida_fact": ida_rows}


def gen_ida_fact(seed: int, path: str) -> int:
    """FIXTURES.md section-1 fact table: six pivoted groups plus others over
    48 months and two indicators, with (group, month) gaps, NULL valores,
    a group whose previous-month average is exactly 0, and months where
    only one group reports."""
    rng = random.Random(seed)
    rows = []
    start = dt.date(2020, 1, 1)
    months = [dt.date(start.year + (start.month - 1 + k) // 12, (start.month - 1 + k) % 12 + 1, 1)
              for k in range(48)]
    lonely = set(rng.sample(range(48), 3))
    for k, mes in enumerate(months):
        for g in GROUPS[:9]:
            if k in lonely and g != "CLARO":
                continue
            if rng.random() < 0.05:
                continue  # gap
            for servico in (IDA_METRIC, INDICATORS[1]):
                for tipo in SERVICES:
                    if g == "ALGAR" and k % 12 == 5:
                        valor = 0.0  # zero previous-month average
                    elif rng.random() < 0.03:
                        valor = None
                    else:
                        valor = rng.randrange(100, 99_999) / 100.0
                    rows.append((g, servico, mes, valor, tipo))
    df = pd.DataFrame(rows, columns=["grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"])
    df.insert(0, "id", np.arange(1, len(df) + 1, dtype=np.int64))
    _write(df, path)
    return len(df)


# --------------------------------------------------------------------------
# query_mix's curation member: a document corpus with stated duplicate shares
# --------------------------------------------------------------------------

N_DOCS = 1_000
SHARE_EXACT = 0.15
SHARE_NEAR = 0.15
SHARE_SHORT = 0.10
#: Shards of the corpus; the scan has one task per shard, as a pre-split
#: production input has.
N_SHARDS = 4


def gen_corpus(seed: int, out_dir: str) -> dict:
    """Write ``N_DOCS`` documents as ``N_SHARDS`` parquet files.

    Shares of the corpus: ``SHARE_SHORT`` short documents (below the
    quality gate), ``SHARE_EXACT`` byte-identical copies of a base
    document, ``SHARE_NEAR`` copies with one or two words replaced (token
    Jaccard well above the near-dup threshold), the rest distinct base
    documents of 40-90 words over a 5000-word vocabulary."""
    rng = random.Random(seed)
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
             for _ in range(5000)]
    n_short = int(N_DOCS * SHARE_SHORT)
    n_exact = int(N_DOCS * SHARE_EXACT)
    n_near = int(N_DOCS * SHARE_NEAR)
    n_base = N_DOCS - n_short - n_exact - n_near
    base = [" ".join(rng.choice(vocab) for _ in range(rng.randint(40, 90))) + "." for _ in range(n_base)]
    texts = list(base)
    for _ in range(n_exact):
        texts.append(rng.choice(base))
    for _ in range(n_near):
        words = rng.choice(base).split(" ")
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(1, len(words) - 1)] = rng.choice(vocab)
        texts.append(" ".join(words))
    for _ in range(n_short):
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4))))
    rng.shuffle(texts)
    os.makedirs(out_dir, exist_ok=True)
    df = pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts})
    for k in range(N_SHARDS):
        _write(df.iloc[k::N_SHARDS], f"{out_dir}/part-{k}.parquet")
    return {
        "docs": N_DOCS,
        "base": n_base,
        "near": n_near,
        "exact": n_exact,
        "short": n_short,
        "distinct_long": len({t for t in texts if len(t.split()) >= 10}),
    }
