"""Seeded input generators for the benchmark.

Self-contained on purpose: nothing here imports the package under test, so
a change to the package's fixture code cannot move the inputs, and two
commits measured with the same seed see byte-identical files. Every
generator also returns the truth the workload checks outputs against.

CT inputs are parquet files in the parsed-entry schema the `fetch` verb
reads. Crawl inputs are WARC archives (the `curate` verb's input) plus a
JSONL eval suite.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The expiry filter's instant: certificates with not_after before it are
# dropped by the ingest filter.
NOW = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

BASE_ROWS = 25_000
N_ISSUERS = 12
HOT_ISSUER_SHARE = 0.55
N_EXPIRY_BUCKETS = 10
# incremental drops after the base slice, rows per drop, and keys in no
# input (lookup misses)
N_CT_DROPS = 2
DROP_ROWS = 5_000
N_MISSES = 200

CT_SCHEMA = pa.schema(
    [
        ("log_url", pa.string()),
        ("entry_id", pa.int64()),
        ("entry_type", pa.string()),
        ("entry_ts", pa.timestamp("us", tz="UTC")),
        ("raw_der", pa.binary()),
        ("serial", pa.binary()),
        ("issuer_id", pa.string()),
        ("issuer_dn", pa.string()),
        ("issuer_cn", pa.string()),
        ("issuer_spki", pa.binary()),
        ("skid", pa.binary()),
        ("subject_cn", pa.string()),
        ("not_before", pa.timestamp("us", tz="UTC")),
        ("not_after", pa.timestamp("us", tz="UTC")),
        ("is_ca", pa.bool_()),
        ("basic_constraints_valid", pa.bool_()),
        ("crl_dps", pa.list_(pa.string())),
        ("chain_len", pa.int32()),
    ]
)


def exp_hour(ts: dt.datetime) -> str:
    """The store's exp_date partition value: not_after truncated to the
    hour, formatted yyyy-MM-dd-HH."""
    return ts.strftime("%Y-%m-%d-%H")


class _CertFactory:
    """Draws certificates; a certificate is a dict of CT_SCHEMA fields
    minus the per-entry ones (log_url, entry_id, entry_ts)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n = 0

    def issuer(self) -> int:
        if self.rng.random() < HOT_ISSUER_SHARE:
            return 0
        return self.rng.randrange(1, N_ISSUERS)

    def cert(self) -> dict:
        rng = self.rng
        self.n += 1
        ii = self.issuer()
        spki = hashlib.sha256(f"bench-spki-{ii}".encode()).digest()
        serial = rng.randbytes(rng.randrange(8, 17))
        bucket = rng.randrange(N_EXPIRY_BUCKETS)
        not_after = NOW + dt.timedelta(hours=6 * bucket + 1, seconds=rng.randrange(3600))
        u = rng.random()
        expired = u < 0.03
        if expired:
            not_after = NOW - dt.timedelta(days=1 + bucket)
        is_ca = 0.03 <= u < 0.06
        no_chain = 0.06 <= u < 0.07
        crls = [
            f"http://crl{ii}.bench.example/{j}.crl"
            for j in range(rng.randrange(0, 3))
        ]
        return {
            "entry_type": "precert" if rng.random() < 0.1 else "x509",
            "raw_der": hashlib.sha256(serial + spki).digest() * 8,
            "serial": serial,
            "issuer_id": f"issuer-{ii:02d}",
            "issuer_dn": f"CN=Bench Issuer {ii}" + (", O=Alt" if rng.random() < 0.1 else ""),
            "issuer_cn": f"Bench Issuer {ii} CA",
            "issuer_spki": spki,
            "skid": spki[:20] if rng.random() < 0.9 else spki[:4],
            "subject_cn": f"host{self.n}.bench.example",
            "not_before": not_after - dt.timedelta(days=90),
            "not_after": not_after,
            "is_ca": is_ca,
            "basic_constraints_valid": True,
            "crl_dps": crls,
            "chain_len": 0 if no_chain else rng.randrange(1, 4),
            "_kept": not (expired or is_ca or no_chain),
        }


def _key(c: dict) -> tuple[str, str, bytes]:
    return (exp_hour(c["not_after"]), c["issuer_id"], c["serial"])


def _write_ct(path: str, rows: list[dict]) -> None:
    cols = {f.name: [r[f.name] for r in rows] for f in CT_SCHEMA}
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(cols, schema=CT_SCHEMA),
        os.path.join(path, "part-00000.parquet"),
        row_group_size=8192,
    )


def ct_inputs(root: str, seed: int) -> dict:
    """A base log slice and N_CT_DROPS incremental drops under `root`.

    The base holds BASE_ROWS rows of which ~20% repeat an earlier key (the
    same certificate logged again with a later entry id). Each drop holds
    ~60% new certificates, ~25% re-sent keys the store already holds and
    ~15% within-drop repeats. ~7% of certificates are filtered out by the
    ingest filter (expired, CA, or no chain).

    Returns the truth: per data set its path, row count, distinct kept
    keys and fresh keys; the first-seen winner of every kept key (for
    point lookups); and keys that are in no input (lookup misses)."""
    rng = random.Random(f"ct-{seed}")
    fac = _CertFactory(rng)
    entry = [0]
    winners: dict[tuple, dict] = {}

    def emit(c: dict, rows: list[dict]) -> None:
        entry[0] += 1
        row = dict(c)
        row["log_url"] = f"ct.bench.example/log{rng.randrange(3)}"
        row["entry_id"] = entry[0]
        row["entry_ts"] = NOW - dt.timedelta(days=30) + dt.timedelta(seconds=entry[0])
        rows.append(row)
        if c["_kept"]:
            winners.setdefault(_key(c), row)

    def slice_rows(n: int, fresh_share: float, resend_pool: list[dict]) -> tuple[list, list]:
        rows: list[dict] = []
        made: list[dict] = []
        n_new = int(n * fresh_share)
        for _ in range(n_new):
            c = fac.cert()
            made.append(c)
            emit(c, rows)
        n_resend = int(n * 0.25) if resend_pool else 0
        for _ in range(n_resend):
            emit(rng.choice(resend_pool), rows)
        while len(rows) < n:
            emit(rng.choice(made), rows)
        rng.shuffle(rows)
        return rows, made

    sets = []
    pool: list[dict] = []
    stored: set = set()
    for d in range(N_CT_DROPS + 1):
        if d == 0:
            rows, made = slice_rows(BASE_ROWS, 0.8, [])
        else:
            rows, made = slice_rows(DROP_ROWS, 0.6, pool)
        name = "base" if d == 0 else f"drop{d}"
        path = os.path.join(root, name)
        _write_ct(path, rows)
        kept = {_key(r) for r in rows if r["_kept"]}
        fresh = kept - stored
        stored |= kept
        for r in rows:
            del r["_kept"]
        pool.extend(made)
        sets.append(
            {
                "name": name,
                "path": path,
                "rows": len(rows),
                "kept_keys": len(kept),
                "fresh_keys": len(fresh),
                "keys": kept,
            }
        )

    misses = []
    while len(misses) < N_MISSES:
        c = fac.cert()
        if c["_kept"] and _key(c) not in winners:
            misses.append(_key(c))
    return {
        "sets": sets,
        "winners": {k: r["entry_id"] for k, r in winners.items()},
        "misses": misses,
    }


# --- crawl -----------------------------------------------------------------

# Stopwords of the classifier's non-English tables, kept out of generated
# words so every page is identified as English and the mixture stage keeps
# all of them.
_FOREIGN = {
    "der", "die", "das", "und", "ist", "nicht", "ein", "zu", "el", "la",
    "de", "que", "y", "en", "un", "es", "le", "et", "les", "des", "une",
    "est",
}
# crawl drops (the first one and one next drop), pages per drop, shares
# of a later drop's pages that repeat an earlier page verbatim or with one
# word changed, and WARC archives per drop
N_CRAWL_DROPS = 2
N_PAGES = 500
EXACT_SHARE = 0.08
NEAR_SHARE = 0.08
N_ARCHIVES = 4
_EN_STOP = ["the", "and", "of", "to", "a", "in", "is", "that"]
_SYL = [
    "ba", "ko", "ri", "tan", "mel", "sor", "vi", "nup", "gal", "dre",
    "fo", "lim", "qua", "zen", "pra", "tu", "hob", "cri", "wes", "mon",
]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randrange(2, 4)))
        if w not in _FOREIGN:
            words.add(w)
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    out = []
    for _ in range(n):
        if rng.random() < 0.3:
            out.append(rng.choice(_EN_STOP))
        else:
            # Zipf-like: squaring a uniform favours low ranks
            out.append(vocab[int(rng.random() ** 2 * len(vocab))])
    return out


def _page_words(rng: random.Random, vocab: list[str], marker: str) -> list[str]:
    words = [marker]
    for _ in range(rng.randrange(14, 20)):
        words += _sentence(rng, vocab, rng.randrange(7, 12))
        words[-1] += "."
    return words


def _html(words: list[str]) -> str:
    paras = []
    for i in range(0, len(words), 40):
        paras.append("<p>" + " ".join(words[i : i + 40]) + "</p>")
    html = (
        # the title is extracted text too: it stays the same on every
        # page, so a verbatim repeat extracts to the same text
        "<html><head><title>bench page</title><style>p {margin: 0}</style>"
        f"<script>var page = 1;</script></head><body>{''.join(paras)}"
        "<!-- footer --></body></html>"
    )
    return (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(html.encode())}\r\n\r\n" + html
    )


def _warc(records: list[dict]) -> bytes:
    out = io.BytesIO()
    for r in records:
        body = r["body"].encode()
        out.write(b"WARC/1.0\r\nWARC-Type: response\r\n")
        out.write(f"WARC-Target-URI: {r['url']}\r\n".encode())
        out.write(b"WARC-Date: 2025-01-01T00:00:00Z\r\n")
        out.write(f"WARC-Record-ID: {r['record_id']}\r\n".encode())
        out.write(b"Content-Type: application/http; msgtype=response\r\n")
        out.write(f"Content-Length: {len(body)}\r\n\r\n".encode())
        out.write(body)
        out.write(b"\r\n\r\n")
    return out.getvalue()


def crawl_inputs(root: str, seed: int) -> dict:
    """N_CRAWL_DROPS WARC drops of N_PAGES response records each, plus an
    eval suite, under `root`.

    Every page carries a marker word naming the page it was written as
    (`pg<drop>x<i>`). From the second drop on, EXACT_SHARE of the pages
    repeat an earlier drop's clean page verbatim under a new record id and
    NEAR_SHARE repeat one with a single word replaced by `edit<drop>x<i>`.
    Each drop also plants pages that quote an eval-suite passage
    (contaminated), pages of unseen tokens (junk: the LM gate, trained on
    the generated reference, drops them), and e-mail addresses and IPv4s
    on some clean pages (PII).

    Returns per drop its path and page count, the count of clean new
    pages, and the markers of planted exact and near repeats and of
    contaminated and junk pages; and the eval suite and LM reference
    directories."""
    rng = random.Random(f"crawl-{seed}")
    vocab = _vocab(rng, 1500)
    # the LM gate's trusted reference: generated pages plus every word,
    # bare and sentence-final, twice, so no word a page can draw from is
    # out of the model's vocabulary and unseen tokens are
    ref_dir = os.path.join(root, "lm_reference")
    os.makedirs(ref_dir, exist_ok=True)
    with open(os.path.join(ref_dir, "reference.jsonl"), "w") as f:
        for i in range(40):
            words = _page_words(rng, vocab, "reference")[1:]
            f.write(json.dumps({"doc_id": i, "text": " ".join(words)}) + "\n")
        every = [w + end for w in vocab + _EN_STOP for end in ("", ".")]
        f.write(json.dumps({"doc_id": 40, "text": " ".join(every * 2)}) + "\n")
    suite_dir = os.path.join(root, "eval_suite")
    os.makedirs(suite_dir, exist_ok=True)
    suite = []
    with open(os.path.join(suite_dir, "suite.jsonl"), "w") as f:
        for i in range(5):
            words = _sentence(rng, vocab, 60)
            suite.append(words)
            f.write(json.dumps({"doc_id": i, "text": " ".join(words)}) + "\n")

    clean: list[list[str]] = []  # earlier drops' clean pages, by words
    drops = []
    for d in range(N_CRAWL_DROPS):
        pages: list[list[str]] = []
        exact, near, contaminated, junk = [], [], [], []
        n_exact = int(N_PAGES * EXACT_SHARE) if clean else 0
        n_near = int(N_PAGES * NEAR_SHARE) if clean else 0
        for src in rng.sample(clean, n_exact) if n_exact else []:
            pages.append(list(src))
            exact.append(src[0])
        for j, src in enumerate(rng.sample(clean, n_near) if n_near else []):
            w = list(src)
            w[len(w) // 2] = f"edit{d}x{j}"
            pages.append(w)
            near.append(src[0])
        fresh: list[list[str]] = []
        i = 0
        while len(pages) < N_PAGES:
            marker = f"pg{d}x{i}"
            i += 1
            words = _page_words(rng, vocab, marker)
            kind = i % 50
            if kind == 7:  # quotes an eval passage
                s = rng.choice(suite)
                at = rng.randrange(0, len(s) - 12)
                words[10:10] = s[at : at + 12]
                contaminated.append(marker)
            elif kind == 19:  # unseen tokens: the LM gate drops it
                words = [marker] + [
                    "".join(rng.choice("bcdfghjkmnpqvwxz") for _ in range(9)) + "."
                    for _ in range(120)
                ]
                junk.append(marker)
            else:
                if kind % 5 == 3:
                    words.insert(5, f"user{d}x{i}@mail.bench.example")
                    words.insert(30, f"10.{d}.{i % 250}.{(i * 7) % 250}")
                fresh.append(words)
            pages.append(words)
        rng.shuffle(pages)
        ddir = os.path.join(root, f"drop{d}")
        os.makedirs(ddir, exist_ok=True)
        per = -(-len(pages) // N_ARCHIVES)
        for a in range(N_ARCHIVES):
            recs = [
                {
                    "url": f"https://site{k % 17}.bench.example/d{d}/p{k}",
                    "record_id": f"<urn:uuid:bench-{seed}-{d}-{k:06d}>",
                    "body": _html(words),
                }
                for k, words in enumerate(pages[a * per : (a + 1) * per], start=a * per)
            ]
            payload = _warc(recs)
            name = f"seg-{a:03d}.warc"
            if a % 2:
                with open(os.path.join(ddir, name + ".gz"), "wb") as f:
                    f.write(gzip.compress(payload, mtime=0))
            else:
                with open(os.path.join(ddir, name), "wb") as f:
                    f.write(payload)
        clean.extend(fresh)
        drops.append(
            {
                "path": ddir,
                "pages": len(pages),
                "exact": exact,
                "near": near,
                "contaminated": contaminated,
                "junk": junk,
                "clean": len(fresh),
            }
        )
    return {"drops": drops, "eval_suite": suite_dir, "lm_reference": ref_dir}
