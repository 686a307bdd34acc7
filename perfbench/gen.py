"""Seeded input generator for the benchmark.

Everything here is pure stdlib (plus pyarrow for the parquet tables) and
independent of the package under test: the expected outputs (reference
set, balance flags, planted near-duplicate pairs, survivor count) are
computed from the generator's own model of the data, never by calling
the program.  The same seed writes byte-identical files.
"""

from __future__ import annotations

import datetime
import decimal
import io
import os
import random
import re
import zipfile
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Day-Docket workbooks, charge table, customer dim
# ---------------------------------------------------------------------------

# Excel serial of 2024-01-01 (days since 1899-12-30).
BASE_SERIAL = 45292
EXCEL_EPOCH = datetime.date(1899, 12, 30)
STORE_ACCOUNT = "10528"
SPECIAL_CUSTOMER = "45678"
# Fixed zip member timestamp: zipfile otherwise stamps the wall clock,
# which would make two runs of the same seed differ byte-wise.
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)

_WB_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Front" sheetId="1" r:id="rId1"/>'
    '<sheet name="A4 Summary" sheetId="2" r:id="rId2"/></sheets></workbook>'
)
_RELS_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
    '2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/'
    '2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
    "</Relationships>"
)
_SHEET1_XML = (
    '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/'
    'spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr">'
    "<is><t>cover</t></is></c></row></sheetData></worksheet>"
)


def xlsx_bytes(rows: dict[int, dict[str, object]]) -> bytes:
    """A two-sheet xlsx whose 'A4 Summary' sheet holds ``rows``.

    Cell forms: ``str`` goes through the shared-string table (t="s"),
    ``("inline", s)`` is an inline string, anything else is a typeless
    numeric cell written with ``str()``.
    """
    sst: list[str] = []
    sst_index: dict[str, int] = {}
    row_xml = []
    for r in sorted(rows):
        cells = []
        for col, v in sorted(rows[r].items()):
            ref = f"{col}{r}"
            if isinstance(v, tuple):
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{v[1]}</t></is></c>')
            elif isinstance(v, str):
                if v not in sst_index:
                    sst_index[v] = len(sst)
                    sst.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{sst_index[v]}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        row_xml.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet2 = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(row_xml)}</sheetData></worksheet>'
    )
    sst_xml = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{s}</t></si>" for s in sst)
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in (
            ("xl/workbook.xml", _WB_XML),
            ("xl/_rels/workbook.xml.rels", _RELS_XML),
            ("xl/sharedStrings.xml", sst_xml),
            ("xl/worksheets/sheet1.xml", _SHEET1_XML),
            ("xl/worksheets/sheet2.xml", sheet2),
        ):
            info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, body)
    return buf.getvalue()


@dataclass
class DailyExpected:
    references: frozenset[str]
    balanced: dict[str, bool]  # workbook file name -> balance flag
    documents: int
    workbooks: int


@dataclass
class DailyInputs:
    drop_dir: str
    charge_table: str
    customer_dim: str
    expected: DailyExpected
    # (date, cents, customer_id, seq_no) of every charge-table row that a
    # workbook row verifies against; fault injection removes one of them
    charge_keys: list[tuple] = field(default_factory=list)


def _money(cents: int) -> decimal.Decimal:
    """Cents as an exact 2dp number: written as a numeric cell, e.g. 12.30."""
    return decimal.Decimal(cents).scaleb(-2)


def write_daily(out_dir: str, seed: int, files: int, rows_per_file: int) -> DailyInputs:
    """Drop dir of ``files`` Day-Docket workbooks (at most 100: the
    ``DD \\d\\d`` name contract) with ``rows_per_file`` non-zero
    charge/payment rows each, plus the charge table (every workbook row
    once, and four noise rows per workbook row on dates no workbook
    carries) and the customer dim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not 1 <= files <= 100:
        raise ValueError("a drop dir holds 1..100 'DD nn' workbooks")
    if not 1 <= rows_per_file <= 9000:
        raise ValueError("rows_per_file must fit the 4-digit seq_no")
    rng = random.Random(f"daily-{seed}")
    drop_dir = os.path.join(out_dir, "drop")
    os.makedirs(drop_dir, exist_ok=True)

    drawn = {f"{rng.randrange(10000, 99999)}" for _ in range(300)}
    customers = sorted(drawn - {STORE_ACCOUNT, SPECIAL_CUSTOMER})
    customers = customers[:250] + [SPECIAL_CUSTOMER]
    charge_rows = []  # (date, cents, customer, seq, terminal, ts)
    refs: set[str] = set()
    balanced: dict[str, bool] = {}
    for fi in range(files):
        name = f"DD {fi:02d}.xlsx"
        serial = BASE_SERIAL + fi
        day = EXCEL_EPOCH + datetime.timedelta(days=serial)
        n_pay = max(1, rows_per_file // 5)
        n_chg = rows_per_file - n_pay
        seqs = rng.sample(range(1, 9999), rows_per_file)
        terminals = [f"T{fi:02d}{k}" for k in range(3)]
        rows: dict[int, dict[str, object]] = {
            3: {"A": "Date", "B": serial},
            15: {"C": "Till variance", "D": _money(rng.randrange(-500, 500))},
            21: {"C": "Amount", "D": "Account", "E": "Seq", "F": "Notes"},
        }
        r = 22
        total = 0

        def add(section_sign: int, seq: int) -> None:
            nonlocal r, total
            cents = section_sign * rng.randrange(100, 250000)
            roll = rng.random()
            if roll < 0.05:
                cust = STORE_ACCOUNT  # amount-only row -> default account
                cells: dict[str, object] = {"C": _money(cents), "E": seq}
            else:
                cust = rng.choice(customers)
                shown: object = int(cust) if roll < 0.6 else f"{cust[:2]}-{cust[2:]}"
                cells = {"C": _money(cents), "D": shown, "E": seq}
            if rng.random() < 0.2:
                cells["F"] = ("inline", f"note {rng.randrange(1000)}")
            rows[r] = cells
            r += 1
            if rng.random() < 0.03:
                rows[r] = {"C": 0, "D": int(rng.choice(customers)), "E": 0}  # zero-amount drop
                r += 2  # and an absent (all-null) row
            total += cents
            terminal = terminals[seq % 3]
            ts = datetime.datetime(day.year, day.month, day.day, 8) + datetime.timedelta(
                seconds=rng.randrange(0, 10 * 3600)
            )
            charge_rows.append((day, cents, cust, f"{seq:04d}", terminal, ts))
            refs.add(f"{terminal}/{seq:04d}")

        for seq in seqs[:n_chg]:
            add(1, seq)
        r += 1
        rows[r] = {"C": "Amount", "D": "Payments"}
        r += 1
        for seq in seqs[n_chg:]:
            add(-1, seq)
        rows[r] = {"D": "Total Charges"}
        r += 3
        rows[r] = {"F": "Total Debtors", "G": _money(total)}
        balanced[name] = True
        with open(os.path.join(drop_dir, name), "wb") as f:
            f.write(xlsx_bytes(rows))
    # files the DD filename contract must ignore
    with open(os.path.join(drop_dir, "notes.xlsx"), "wb") as f:
        f.write(b"not a workbook")

    keys = [(d, c, cu, s) for d, c, cu, s, _, _ in charge_rows]
    noise = []
    for i in range(4 * len(charge_rows)):
        d = datetime.date(2023, 1, 1) + datetime.timedelta(days=rng.randrange(300))
        noise.append(
            (
                d,
                rng.randrange(-250000, 250000) or 1,
                rng.choice(customers),
                f"{rng.randrange(1, 9999):04d}",
                f"N{i % 50:02d}",
                datetime.datetime(d.year, d.month, d.day, 12),
            )
        )
    table = charge_rows + noise
    rng.shuffle(table)
    charge_path = os.path.join(out_dir, "charges.parquet")
    _write_charges(pa, pq, table, charge_path)

    terms = [("DAYSAFTERBILLDATE", 14), ("OFFOLLOWINGMONTH", 20), (None, None)]
    dim = []
    for c in [STORE_ACCOUNT] + customers:
        tt, td = rng.choice(terms)
        dim.append((c, f"xero-{c}", tt, td))
    dim_path = os.path.join(out_dir, "customers.parquet")
    pq.write_table(
        pa.table(
            {
                "customer_id": pa.array([d[0] for d in dim], pa.string()),
                "xero_id": pa.array([d[1] for d in dim], pa.string()),
                "terms_type": pa.array([d[2] for d in dim], pa.string()),
                "terms_days": pa.array([d[3] for d in dim], pa.int32()),
            }
        ),
        dim_path,
    )
    return DailyInputs(
        drop_dir=drop_dir,
        charge_table=charge_path,
        customer_dim=dim_path,
        expected=DailyExpected(
            references=frozenset(refs),
            balanced=balanced,
            documents=len(refs),
            workbooks=files,
        ),
        charge_keys=keys,
    )


def _write_charges(pa, pq, table: list[tuple], path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "date": pa.array([t[0] for t in table], pa.date32()),
                "amount": pa.array(
                    [_money(t[1]) for t in table], pa.decimal128(12, 2)
                ),
                "customer_id": pa.array([t[2] for t in table], pa.string()),
                "seq_no": pa.array([t[3] for t in table], pa.string()),
                "terminal_id": pa.array([t[4] for t in table], pa.string()),
                "tran_timestamp": pa.array([t[5] for t in table], pa.timestamp("us", tz="UTC")),
            }
        ),
        path,
    )


def drop_charge_row(inputs: DailyInputs, index: int = 0) -> None:
    """Fault injection: rewrite the charge table without one row that a
    workbook charge verifies against, so the unverified gate must trip."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    day, cents, cust, seq = inputs.charge_keys[index]
    t = pq.read_table(inputs.charge_table)
    hit = pc.and_(
        pc.and_(pc.equal(t["date"], day), pc.equal(t["seq_no"], seq)),
        pc.equal(t["customer_id"], cust),
    )
    pq.write_table(t.filter(pc.invert(hit)), inputs.charge_table)


# ---------------------------------------------------------------------------
# Corpus with planted near-duplicates and boilerplate
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]
TOKEN_RE = re.compile(r"[a-z0-9]+")
PUNCT_RE = re.compile(r"[!-/:-@\[-`{-~]")
CORPUS_SHARDS = 8
BOILERPLATE_DOCS = 800
JACCARD_NUM, JACCARD_DEN = 7, 10  # the verify threshold the op uses


def token_set(text: str) -> frozenset[str]:
    return frozenset(TOKEN_RE.findall(text.lower()))


def quality_ok(text: str) -> bool:
    """The quality gate the op applies (textstats.quality_flags
    defaults), restated: >= 50 chars, <= 20 punctuation chars per 100,
    >= 1 stopword per 100 tokens."""
    n = len(text)
    toks = TOKEN_RE.findall(text.lower())
    stops = sum(t in STOPWORDS for t in toks)
    return n >= 50 and 100 * PUNCT_RE.subn("", text)[1] <= 20 * n and 100 * stops >= max(len(toks), 1)


@dataclass
class CorpusExpected:
    docs: int
    quality_pass: int
    exact_dups: int  # extra copies removed by exact dedup
    planted: frozenset[tuple[int, int]]  # (smaller id, larger id)
    survivors: frozenset[int]  # ids the op must write


@dataclass
class CorpusInputs:
    path: str
    texts: dict[int, str]
    expected: CorpusExpected


def _vocab(rng: random.Random, n: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    out: set[str] = set()
    while len(out) < n:
        k = rng.randrange(2, 5)
        out.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k)))
    return sorted(out - set(STOPWORDS))


def write_corpus(out_dir: str, seed: int, docs: int) -> CorpusInputs:
    """``docs`` documents in CORPUS_SHARDS parquet shards.  The mix below
    is not taken from a published dedup rate or a measured corpus (none
    is cited by the package); it is chosen so that every stage has work
    whose outcome is known without running the program:

    - 5% fail the quality gate (too short, punctuation-heavy, or
      stopword-free),
    - 3% are exact copies of a regular document,
    - 5% form planted near-duplicate pairs (one token of ~60 replaced:
      Jaccard >= 0.9, so LSH 16x4 finds them with probability
      1 - (1 - 0.9^4)^16 > 1 - 1e-7),
    - BOILERPLATE_DOCS carry one 44-token boilerplate block, each in
      its own word order and casing: distinct texts (exact dedup keeps
      them all) with one token set, hence one MinHash signature, so
      every band puts all of them in one bucket over the max_bucket=500
      stop-bucket cap.  They never become candidates and all survive,
    - the rest are regular documents drawn from a 6,000-word vocabulary
      (pairwise Jaccard ~0.1).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus-{seed}")
    vocab = _vocab(rng, 6000)

    def regular() -> str:
        words = rng.sample(vocab, rng.randrange(45, 70))
        words += rng.sample(STOPWORDS, rng.randrange(3, 8))
        rng.shuffle(words)
        for i in range(8, len(words), rng.randrange(9, 14)):
            words[i] += rng.choice(",.")
        return " ".join(words)

    n_bad = docs * 5 // 100
    n_exact = docs * 3 // 100
    n_pairs = docs * 5 // 200
    n_boiler = BOILERPLATE_DOCS
    n_reg = docs - n_bad - n_exact - 2 * n_pairs - n_boiler
    if n_reg < n_exact:
        raise ValueError("corpus too small for its planted structure")

    texts: list[tuple[str, str]] = []  # (kind, text)
    regulars = [regular() for _ in range(n_reg)]
    texts += [("reg", t) for t in regulars]
    texts += [("dup", t) for t in rng.sample(regulars, n_exact)]
    for _ in range(n_pairs):
        base = regular()
        toks = base.split(" ")
        i = rng.randrange(len(toks))
        toks[i] = rng.choice(vocab) + "x"  # a token no regular doc carries
        texts += [("pair", base), ("pair", " ".join(toks))]
    core = rng.sample(vocab, 40) + ["the", "of", "and", "to"]
    boiler: set[str] = set()
    while len(boiler) < n_boiler:
        words = core[:]
        rng.shuffle(words)
        k = rng.randrange(len(words))
        words[k] = words[k].upper()
        boiler.add(" ".join(words))
    texts += [("boiler", t) for t in sorted(boiler)]
    for b in range(n_bad):
        kind = b % 3
        if kind == 0:
            t = " ".join(rng.sample(vocab, 3))[:40]
        elif kind == 1:
            t = " ".join(w + "!?;" for w in rng.sample(vocab, 30)) + " the"
        else:
            t = " ".join(rng.sample(vocab, 40))
        texts.append(("bad", t))

    ids = rng.sample(range(1, 4 * docs), docs)
    rows = [(i, kind, t) for (kind, t), i in zip(texts, ids)]
    # planted pairs are consecutive "pair" entries in ``texts``
    planted = set()
    pair_rows = [r for r in rows if r[1] == "pair"]
    for a, b in zip(pair_rows[::2], pair_rows[1::2]):
        ja, jb = token_set(a[2]), token_set(b[2])
        if JACCARD_DEN * len(ja & jb) < 9 * len(ja | jb):
            raise AssertionError("planted pair below Jaccard 0.9")
        planted.add((min(a[0], b[0]), max(a[0], b[0])))
    rng.shuffle(rows)
    texts_by_id = {i: t for i, _, t in rows}

    passing = [(i, t) for i, _, t in rows if quality_ok(t)]
    first_id: dict[str, int] = {}  # exact dedup keeps the smallest id per text
    for i, t in passing:
        first_id[t] = min(i, first_id.get(t, i))
    survivors = set(first_id.values()) - {b for _, b in planted}

    path = os.path.join(out_dir, "corpus")
    os.makedirs(path, exist_ok=True)
    for s in range(CORPUS_SHARDS):
        part = rows[s::CORPUS_SHARDS]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in part], pa.int64()),
                    "text": pa.array([r[2] for r in part], pa.string()),
                }
            ),
            os.path.join(path, f"part-{s:02d}.parquet"),
        )
    return CorpusInputs(
        path=path,
        texts=texts_by_id,
        expected=CorpusExpected(
            docs=docs,
            quality_pass=len(passing),
            exact_dups=len(passing) - len(first_id),
            planted=frozenset(planted),
            survivors=frozenset(survivors),
        ),
    )
