"""Deterministic input generator for the perfbench workloads.

Every workload's inputs and its ground truth are a pure function of
(workload, seed): the same seed always gives byte-identical files. The
sizes do not depend on the seed (counts and lengths are fixed, only the
words, names and positions move), so runs with different seeds measure
the same amount of work.

Files are written as JSON lines (read by ``graft.io.Sinks.readJsonl``),
the 154-column deal CSV (``graft.io.Sources.deals``), HTML filings (served
by the benchmark's fetcher) and tab-separated truth tables.
"""

import json
import os
import random

# --- sizes (fixed per workload; see README.md for why) ---------------------

DEALS = 200                     # deals_many: deals in the CSV
CORPUS_BASE = 900               # corpus_dedup: unrelated base documents

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
SUFFIXES = ["Inc", "Corp", "Holdings", "Group", "Corporation", "Company"]
ALIAS_SUFFIXES = ["Partners", "Holdings", "Group", "Technologies"]
# Section titles of the filler part of a filing: none holds "background",
# a year, or a word the header cascade or the ORG extractor keys on.
TITLES = ["Summary Term Sheet", "Questions and Answers", "Risk Factors",
          "The Special Meeting", "Proposal One", "The Merger Agreement",
          "Interests of Directors", "Appraisal Rights", "Market Prices",
          "Security Ownership", "Regulatory Approvals", "Financing Terms",
          "Tax Consequences", "Accounting Treatment", "Voting Procedures",
          "Dissenters Rights", "Conditions to Closing", "Termination Fees",
          "Stockholder Proposals", "Where You Can Find More Information"]
PHRASES = ["Background of the Merger", "Background of the Offer",
           "Background of the Transaction", "Background of the Acquisition"]
PATCH_MOD, PATCH_REM = 10, 7    # deals_many: rows with index % 10 == 7 are patched


def _vocab(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choices(letters, k=rng.randint(3, 9))))
    return sorted(out)


def _name_word(rng):
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(3))
    return w.capitalize() + rng.choice("nrstx")


def _company(rng, suffixes=SUFFIXES):
    return f"{_name_word(rng)} {_name_word(rng)} {rng.choice(suffixes)}"


def _wrap(words, width=88):
    """Words -> lines of at most `width` chars (a multi-line paragraph)."""
    lines, cur, n = [], [], 0
    for w in words:
        if cur and n + 1 + len(w) > width:
            lines.append(" ".join(cur))
            cur, n = [], 0
        cur.append(w)
        n += len(w) + (1 if n else 0)
    if cur:
        lines.append(" ".join(cur))
    return "\n".join(lines)


def _sentence(rng, vocab):
    words = rng.choices(vocab, k=rng.randint(9, 16))
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng, vocab):
    text = " ".join(_sentence(rng, vocab) for _ in range(rng.randint(4, 7)))
    return _wrap(text.split(" "))


def _filler(rng, vocab, chars):
    """Titled filler sections of multi-line paragraphs, about `chars` long."""
    parts, n = [], 0
    while n < chars:
        block = [rng.choice(TITLES)] + [_paragraph(rng, vocab)
                                         for _ in range(rng.randint(3, 6))]
        text = "\n\n".join(block)
        parts.append(text)
        n += len(text) + 2
    return "\n\n".join(parts)


def _narrative(rng, vocab, year, first, second, paragraphs=6):
    """The Background section body. Its first sentence carries the only
    year in the section; `first` and `second` are the party names used."""
    month, day = rng.choice(MONTHS), rng.randint(1, 28)
    opening = (f"On {month} {day}, {year}, representatives of {first} "
               f"contacted representatives of {second} regarding a potential "
               f"business combination.")
    paras = [_wrap((opening + " " + " ".join(
        _sentence(rng, vocab) for _ in range(3))).split(" "))]
    for _ in range(paragraphs - 1):
        body = " ".join(_sentence(rng, vocab) for _ in range(rng.randint(3, 5)))
        body += f" After review, {rng.choice([first, second])} accepted the terms."
        paras.append(_wrap(body.split(" ")))
    return "\n\n".join(paras)


def _section(rng, vocab, phrase, year, a, b, alias):
    """(section text, expected initiator). Direct when alias is None: both
    parties are named. Enriched otherwise: the acquirer only appears as an
    alias defined elsewhere in the filing, so token validation fails and
    the abbreviation enrichment leads the prompt."""
    second = b if alias is None else alias
    body = _narrative(rng, vocab, year, a, second)
    return phrase + "\n\n" + body, (a if alias is None else alias)


def _definition(alias):
    """Defines the alias. It opens with a lower-case word so the ORG
    extractor does not join it to the line before it in the prompt."""
    return (f"as used in this statement, the acquirer and its merger "
            f"subsidiary (together, \"{alias}\") entered into the agreement.")


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=True))
            f.write("\n")


def _write_tsv(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r))
            f.write("\n")


# --- deals_many ------------------------------------------------------------

HEADER = ("The following provides details about the events leading up to the "
          "merger deal between {a} & {b}:\n")


def _html(blocks):
    body = "".join(f"<div>\n{b}\n</div>\n<p>{i + 1}</p>\n"
                   for i, b in enumerate(blocks))
    return ("<html><head><title>DEFM14A</title><style>p {margin: 0}</style>"
            "</head><body>\n" + body + "</body></html>\n")


def gen_deals_many(rng, out):
    vocab = _vocab(rng, 3000)
    n = DEALS
    docs = os.path.join(out, "docs")
    os.makedirs(docs)
    # fixed shares, seed-permuted: resumed from the sink, dropped at
    # validation, located by the LLM fallback, heuristic direct / enriched
    paths = (["resumed"] * (n // 5) + ["dropped"] * (n // 20) +
             ["llm"] * (n // 10) + ["enriched"] * (n // 5))
    paths += ["direct"] * (n - len(paths))
    rng.shuffle(paths)
    decoy = set(rng.sample(range(n), n // 4))
    deals, search, seeded, truth = [], [], [], []
    for i in range(n):
        a, b = _company(rng), _company(rng)
        year = rng.randint(2002, 2023)
        month, day = rng.randint(1, 12), rng.randint(1, 28)
        deals.append([f"D{i:06d}", f"{month}/{day}/{year}", a, b] +
                     [str(rng.randint(0, 99999)) for _ in range(150)])
        path = paths[i]
        alias = _company(rng, ALIAS_SUFFIXES) if path == "enriched" else None
        phrase = rng.choice(PHRASES)
        cik = 1_000_000 + i
        urls = []
        if path != "dropped":
            adsh = f"{cik:010d}-{year % 100:02d}-{i:06d}"
            urls.append(adsh)
        if path == "dropped" or i in decoy:
            urls.append(f"{cik:010d}-{year % 100:02d}-{900000 + i:06d}")
        for adsh in urls:
            search.append({"main_index": i, "url":
                           f"https://www.sec.gov/Archives/edgar/data/{cik}/"
                           f"{adsh.replace('-', '')}/{adsh}.txt"})
        initiator = a
        if path == "resumed":
            body = _narrative(rng, vocab, year, a, b, paragraphs=3)
            seeded.append({"main_index": i, "content":
                           HEADER.format(a=a, b=b) + phrase + "\n\n" + body})
        elif path != "dropped":
            cover = (f"PROXY STATEMENT\n\nProposed merger of {a} with {b} "
                     f"pursuant to the agreement and plan of merger.")
            if alias:
                cover += "\n\n" + _definition(alias)
            if path == "llm":
                # the phrase only inside a long prose paragraph: the title
                # test rejects it, the fallback classifier accepts it
                mention = "\n".join([
                    _wrap(_sentence(rng, vocab).split(" ")),
                    f"The parties discussed the {phrase.lower()} over "
                    "several meetings.",
                    _wrap(" ".join(_sentence(rng, vocab)
                                   for _ in range(3)).split(" "))])
                main = _filler(rng, vocab, 1500) + "\n\n" + mention
                initiator = ""
            else:
                section, initiator = _section(rng, vocab, phrase, year, a, b,
                                              alias)
                main = _filler(rng, vocab, 1500) + "\n\n" + section
            blocks = [cover, main, _filler(rng, vocab, 1200)]
            with open(os.path.join(docs, urls[0] + ".html"), "w") as f:
                f.write(_html(blocks))
        if len(urls) == 2 or path == "dropped":
            # a filing of some other deal: fails the both-names validation
            c, d = _company(rng), _company(rng)
            blocks = [f"PROXY STATEMENT\n\nProposed merger of {c} with {d}.",
                      _filler(rng, vocab, 2000)]
            with open(os.path.join(docs, urls[-1] + ".html"), "w") as f:
                f.write(_html(blocks))
        patched = int(path in ("resumed", "direct", "enriched")
                      and i % PATCH_MOD == PATCH_REM)
        truth.append((i, path, initiator, year, patched, a, b))
    with open(os.path.join(out, "deals.csv"), "w") as f:
        for r in deals:
            f.write(",".join(r) + "\n")
    _write_jsonl(os.path.join(out, "search.jsonl"), search)
    _write_sink(os.path.join(out, "sink"), seeded)
    _write_jsonl(os.path.join(out, "seeded.jsonl"), seeded)
    _write_tsv(os.path.join(out, "truth.tsv"), truth)


def _write_sink(path, rows):
    """The section sink as an earlier run left it: the layout
    ``Sinks.writeBucketed`` writes, one parquet file per bucket directory
    (``bucket`` = main_index rounded down to a hundred)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    buckets = {}
    for r in rows:
        buckets.setdefault(r["main_index"] // 100 * 100, []).append(r)
    for b, rs in sorted(buckets.items()):
        d = os.path.join(path, f"bucket={b}")
        os.makedirs(d)
        table = pa.table({"main_index": pa.array([r["main_index"] for r in rs],
                                                  pa.int64()),
                          "content": pa.array([r["content"] for r in rs],
                                              pa.string())})
        pq.write_table(table, os.path.join(d, "part-00000.snappy.parquet"),
                       compression="snappy")


# --- corpus_dedup ----------------------------------------------------------

def _edit(rng, words, vocab, frac):
    out = list(words)
    for j in rng.sample(range(len(out)), max(1, round(len(out) * frac))):
        out[j] = rng.choice(vocab)
    return out


def gen_corpus_dedup(rng, out):
    # every base document writes its own words from six random letters, so
    # unrelated documents differ in their letter-trigram profile (what the
    # stub embedder hashes) as well as in their shingles
    letters = "abcdefghijklmnopqrstuvwxyz"
    base, vocabs = [], []
    for _ in range(CORPUS_BASE):
        sub = rng.sample(letters, 6)
        vocab = ["".join(rng.choices(sub, k=rng.randint(3, 9)))
                 for _ in range(300)]
        vocabs.append(vocab)
        base.append(rng.choices(vocab, k=250))
    # a sixth of the bases get a near-exact copy (one word replaced:
    # MinHash's target), another sixth a paraphrase (the words shuffled,
    # then 2 % replaced): shingle Jaccard near 0.5, so only the embedding
    # dedup should pair it
    order = list(range(CORPUS_BASE))
    rng.shuffle(order)
    k = CORPUS_BASE // 6
    near, para = order[:k], order[k:2 * k]
    texts = [(" ".join(w), i) for i, w in enumerate(base)]
    for i in near:
        texts.append((" ".join(_edit(rng, base[i], vocabs[i], 0.004)), i))
    for i in para:
        words = list(base[i])
        rng.shuffle(words)
        texts.append((" ".join(_edit(rng, words, vocabs[i], 0.02)), i))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    kind = {i: "A" for i in near}
    kind.update({i: "B" for i in para})
    rows, truth = [], []
    for new_id, (text, b) in zip(ids, texts):
        rows.append({"id": new_id, "text": text})
        truth.append((new_id, kind.get(b, "-"), b))
    rows.sort(key=lambda r: r["id"])
    truth.sort()
    _write_jsonl(os.path.join(out, "corpus.jsonl"), rows)
    _write_tsv(os.path.join(out, "truth.tsv"), truth)


GENERATORS = {"deals_many": gen_deals_many, "corpus_dedup": gen_corpus_dedup}


def generate(workload, seed, out):
    rng = random.Random(f"{workload}:{seed}")
    GENERATORS[workload](rng, out)
