"""Seeded input generators (numpy + pyarrow only). The program receives
only the parquet files written here; the expected values each generator
keeps beside them are read by the output checks alone.

Shapes marked "test data" are those of the repository's TPC-H-style test
tables (FIXTURES.md, TESTDATA.md): orders, customers and parts at scale
factor 0.01, documents at scale factor 0.1. Shapes marked "assumption"
are not taken from any measured workload; the README says why each
value was chosen."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST = (
    "James Mary John Patricia Robert Jennifer Michael Linda William Elizabeth "
    "David Barbara Richard Susan Joseph Jessica Thomas Sarah Charles Karen "
    "Daniel Nancy Matthew Lisa Anthony Betty Mark Margaret Donald Sandra "
    "Steven Ashley Paul Kimberly Andrew Emily Joshua Donna Kenneth Michelle "
    "Kevin Carol Brian Amanda George Melissa Edward Deborah Ronald Stephanie"
).split()
LAST = (
    "Smith Johnson Williams Brown Jones Garcia Miller Davis Rodriguez Martinez "
    "Hernandez Lopez Gonzalez Wilson Anderson Thomas Taylor Moore Jackson Martin "
    "Lee Perez Thompson White Harris Sanchez Clark Ramirez Lewis Robinson "
    "Walker Young Allen King Wright Scott Torres Nguyen Hill Flores "
    "Green Adams Nelson Baker Hall Rivera Campbell Mitchell Carter Roberts"
).split()

# Raw spellings whose cleaned form the reference name normaliser
# prescribes (FIXTURES.md: "SMITH, JOHN" -> "John Smith", "o'brien" ->
# "O'Brien", particles de/of lower-cased, mixed-case "McDonald" kept).
GOLDEN_NAMES = [
    ("SMITH, JOHN", "John Smith"),
    ("o'brien, mary", "Mary O'Brien"),
    ("McDonald, Ann", "Ann McDonald"),
    ("de la cruz, juan", "Juan de La Cruz"),
    ("DE WITT, ANNA (CONTRACTOR)", "Anna de Witt"),
    ("anne-marie o'neil", "Anne-Marie O'Neil"),
]

STATUSES = ["F", "O", "P"]  # test data: o_orderstatus, equal shares
GARBAGE = ["n/a", "abc", "?", "x1", "--", "none"]
EPOCH = dt.date(2026, 1, 1)
PARQUET_OPTS = {"compression": "snappy"}


def day_str(day: int) -> str:
    return (EPOCH + dt.timedelta(days=int(day))).isoformat()


def write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **PARQUET_OPTS)
    return os.path.getsize(path)


# ------------------------------------------------------------ lakehouse ETL

class EtlSource:
    """Bronze order batches for an upsert stream. Each batch comes with its
    expected silver rows (typed and cleaned) and its planted unparsable
    counts; the source keeps each order id's day to draw updates."""

    INITIAL_ROWS = 15_000  # test data: orders rows
    N_CUSTOMERS = 1_500    # test data: customer rows, drawn uniformly
    N_PRODUCTS = 2_000     # test data: part rows, drawn uniformly
    N_DAYS = 30            # assumption: daily partitions the history spans
    BATCH_ROWS = 1_000     # assumption
    UPDATE_SHARE = 0.7     # assumption: the rest are inserts
    RECENT_DAYS = 2.0      # assumption: scale of the recency bias of updates
    GARBAGE_SHARE = 0.03   # assumption: unparsable quantity / amount values
    NULL_SHARE = 0.2       # assumption: null discounts

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        pairs = [(f, l) for f in FIRST for l in LAST]
        pick = self.rng.choice(len(pairs), size=self.N_CUSTOMERS - len(GOLDEN_NAMES), replace=False)
        self.customers = [pairs[i] for i in sorted(pick)]
        self.next_id = 1
        self.day_of: dict[int, int] = {}
        self.max_day = self.N_DAYS - 1

    def _raw_name(self, c: int, form: int) -> tuple[str, str]:
        g = c - (self.N_CUSTOMERS - len(GOLDEN_NAMES))
        if g >= 0:
            return GOLDEN_NAMES[g]
        first, last = self.customers[c]
        clean = f"{first} {last}"
        if form == 0:
            return f"{last.upper()}, {first.upper()}", clean
        if form == 1:
            return f"{last.lower()}, {first.lower()}", clean
        if form == 2:
            return clean, clean
        return f"{first.lower()} {last.lower()} (ref {c % 97})", clean

    def _rows(self, ids: np.ndarray, days: np.ndarray) -> tuple[pa.Table, pa.Table, dict]:
        rng, n = self.rng, len(ids)
        cust = rng.integers(0, self.N_CUSTOMERS, n)
        # every batch carries every golden spelling, in its first rows
        n_gold = len(GOLDEN_NAMES)
        cust[:n_gold] = np.arange(self.N_CUSTOMERS - n_gold, self.N_CUSTOMERS)
        forms = rng.integers(0, 4, n)
        names = [self._raw_name(int(c), int(f)) for c, f in zip(cust, forms)]
        prod = rng.integers(0, self.N_PRODUCTS, n)
        qty = rng.integers(1, 50, n)
        cents = rng.integers(100, 100_000, n)
        qty_bad = rng.random(n) < self.GARBAGE_SHARE
        amt_bad = rng.random(n) < self.GARBAGE_SHARE
        garbage = rng.choice(GARBAGE, n)
        disc = rng.integers(0, 11, n) / 100  # test data: l_discount 0.00-0.10
        disc_null = rng.random(n) < self.NULL_SHARE
        status = rng.choice(STATUSES, n)
        day_strs = [day_str(d) for d in days]
        amount_txt = [f"{c / 100:.2f}" for c in cents]
        bronze = pa.table({
            "order_id": pa.array(ids, pa.int64()),
            "event_date": day_strs,
            "customer": [r for r, _ in names],
            "product": [f"P-{p:04d}" for p in prod],
            "status": status.tolist(),
            "quantity": [g if b else str(q) for q, b, g in zip(qty, qty_bad, garbage)],
            "amount": [g if b else a for a, b, g in zip(amount_txt, amt_bad, garbage)],
            "discount": pa.array(disc, pa.float64(), mask=disc_null),
        })
        truth = pa.table({
            "order_id": pa.array(ids, pa.int64()),
            "event_date": day_strs,
            "customer": [c for _, c in names],
            "product": [f"P-{p:04d}" for p in prod],
            "status": status.tolist(),
            "quantity": pa.array(np.where(qty_bad, 0, qty), pa.int32()),
            "amount": pa.array(np.where(amt_bad, 0.0, [float(a) for a in amount_txt]), pa.float64()),
            "discount": pa.array(np.where(disc_null, 0.0, disc), pa.float64()),
        })
        planted = {"quantity": int(qty_bad.sum()), "amount": int(amt_bad.sum())}
        return bronze, truth, planted

    def initial(self) -> tuple[pa.Table, pa.Table, dict]:
        n = self.INITIAL_ROWS
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        days = np.sort(self.rng.integers(0, self.N_DAYS, n))
        self.next_id += n
        self.day_of.update(zip(ids.tolist(), days.tolist()))
        return self._rows(ids, days)

    def batch(self) -> tuple[pa.Table, pa.Table, dict]:
        """One upsert batch: updates of existing keys (recent days
        favoured), then inserts on the newest three days."""
        rng = self.rng
        n_upd = int(self.BATCH_ROWS * self.UPDATE_SHARE)
        n_ins = self.BATCH_ROWS - n_upd
        keys = np.fromiter(self.day_of.keys(), np.int64)
        kdays = np.fromiter(self.day_of.values(), np.int64)
        w = np.exp(-(self.max_day - kdays) / self.RECENT_DAYS)
        upd = rng.choice(keys, size=n_upd, replace=False, p=w / w.sum())
        upd_days = np.array([self.day_of[int(k)] for k in upd], np.int64)
        ins = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        ins_days = self.max_day - rng.integers(0, 3, n_ins)
        self.next_id += n_ins
        self.day_of.update(zip(ins.tolist(), ins_days.tolist()))
        ids = np.concatenate([upd, ins])
        days = np.concatenate([upd_days, ins_days])
        return self._rows(ids, days)


# ------------------------------------------------------------- corpus prep

LANG_MARKERS = {
    "en": "the and of to a in is that it for".split(),
    "es": "el la de que y en un por con los".split(),
    "de": "der die und das ist von mit den ein zu".split(),
    "fr": "le la les de et un une est que dans".split(),
}
ZH_CHARS = "的是了在我有和人这不中大为上个国"
KEEP_LANGS = ("en", "es")


class CorpusSource:
    """Shards of multilingual documents with planted near-duplicate and
    exact-duplicate clusters and planted low-quality documents."""

    DOCS = 2_500           # test data: half the documents rows, duplicates included
    LANG_SHARES = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}  # test data
    WORDS = (10, 100)      # test data: words per document, uniform
    SOURCES = [f"src{k}" for k in range(20)]  # test data: 20 sources, equal shares
    CLUSTERS = 40          # assumption: planted duplicate clusters per shard
    CLUSTER_SIZES = (2, 5)  # assumption, inclusive
    CLUSTER_WORDS = (80, 100)  # assumption: near duplicates stay far above the threshold
    JUNK_SHARE = 0.05      # assumption: planted low-quality documents

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "du", "sa", "fi"]
        vocab = {f"{a}{b}{c}" for a in syll for b in syll for c in syll}
        self.vocab = sorted(vocab)

    def _text(self, lang: str, n_words: int) -> str:
        rng = self.rng
        if lang == "zh":
            return "".join(rng.choice(list(ZH_CHARS), n_words))
        words = list(rng.choice(self.vocab, n_words))
        markers = LANG_MARKERS[lang]
        # every marker once, then more at random slots: the language is
        # unambiguous to a marker-token identifier
        for m in markers + list(rng.choice(markers, n_words // 5)):
            words.insert(int(rng.integers(0, len(words) + 1)), m)
        return " ".join(words)

    def _variant(self, text: str, exact: bool) -> str:
        rng = self.rng
        if exact:  # same normalised text: case and spacing only
            return "  " + text.upper() + " "
        words = text.split(" ")
        i = int(rng.integers(0, len(words)))
        words[i] = str(rng.choice(self.vocab))
        return " ".join(words)

    def shard(self, first_id: int) -> tuple[pa.Table, dict]:
        rng = self.rng
        docs: list[tuple[str, str, int]] = []  # (text, lang, cluster)
        cluster_langs: dict[int, str] = {}
        n_cluster_docs = 0
        for c in range(self.CLUSTERS):
            lang = cluster_langs[c] = "en" if c % 3 else ("es" if c % 2 else "de")
            base = self._text(lang, int(rng.integers(*self.CLUSTER_WORDS)))
            size = int(rng.integers(self.CLUSTER_SIZES[0], self.CLUSTER_SIZES[1] + 1))
            docs.append((base, lang, c))
            for k in range(size - 1):
                docs.append((self._variant(base, exact=k % 2 == 1), lang, c))
            n_cluster_docs += size
        langs = list(self.LANG_SHARES)
        p = np.array(list(self.LANG_SHARES.values()))
        n_single = self.DOCS - n_cluster_docs
        n_junk = int(n_single * self.JUNK_SHARE)
        for i in range(n_single):
            if i < n_junk:
                docs.append(("!!! " + str(rng.choice(self.vocab)) + " ???", "und", -1))
                continue
            lang = str(rng.choice(langs, p=p))
            docs.append((self._text(lang, int(rng.integers(*self.WORDS))), lang, -1))
        order = rng.permutation(len(docs))
        ids = np.arange(first_id, first_id + len(docs), dtype=np.int64)
        rows = [docs[i] for i in order]
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": [r[0] for r in rows],
            "source": rng.choice(self.SOURCES, len(rows)).tolist(),
        })
        clusters: dict[int, list[int]] = {}
        for doc_id, r in zip(ids.tolist(), rows):
            if r[2] >= 0:
                clusters.setdefault(r[2], []).append(doc_id)
        truth = {
            "lang": dict(zip(ids.tolist(), [r[1] for r in rows])),
            "clusters": clusters,
            "cluster_langs": cluster_langs,
        }
        return table, truth
