"""Seeded input generator for the benchmark.

Every workload's inputs come from here and nowhere else: the engine only
ever sees these files. The same (workload, seed, seconds) always produces
byte-identical files. Beside the inputs, `truth.json` records the planted
ground truth that the output checks compare against.

Usage: python3 perfbench/gen.py <workload> <seed> <seconds> <out_dir>
"""
import csv
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. Chosen so a full run (set-up, warm-up, a 10 s window, checks)
# takes about 40 s on a 4-core host; README.md says what that leaves out.
RAG_UNIQUE_DOIS = 1600          # distinct DOIs in the bibliography
RAG_ARTICLES_PER_BATCH = 25     # <article> elements per JATS batch file
CURATE_DOCS = 2000
CURATE_CLUSTER_FRACTION = 0.15  # share of docs that are near-dup copies
CURATE_LOW_QUALITY = 0.2
CRAWL_CORPUS_DOCS = 3000        # docs behind the persisted minhash index
CRAWL_RATE = 13                 # increment files dropped per second
CRAWL_DOCS_PER_FILE = 3
CRAWL_WARMUP_FILES = 8

# the engine's English stopword list (TextAnalysis.Stopwords("en")), so
# the stopword share the quality score reads is the share planted here
STOP = ["the", "a", "of", "and", "to", "in", "is", "that"]
SOURCES = [f"src{i}" for i in range(10)]
LANGS = ["en", "es", "de", "fr", "zh"]
JOURNALS = ["Nature Methods", "JAMIA", "Bioinformatics", "PLoS ONE",
            "Cell Reports", "Radiology: AI", "NeurIPS", "ACL Findings"]
REASON_NO_PMCID = ["idconv: no PMCID", "idconv HTTP 400"]
DOCUMENTS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                              ("lang", pa.string()), ("source", pa.string()),
                              ("n_chars", pa.int64())])


def _vocab():
    r = random.Random(0)
    syl = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "bri",
           "cha", "dro", "fen", "gli", "hul", "jor", "kle", "mon", "pra",
           "que", "sto", "tri", "vel", "wen", "xan", "yor"]
    words = set()
    while len(words) < 4000:
        # 4-9 letters: mean token length stays well inside the quality
        # rules' 2.5-9 character band
        words.add("".join(r.choice(syl) for _ in range(r.randint(2, 3))))
    return sorted(words)


VOCAB = _vocab()


def sentence(r, n_min=8, n_max=16):
    # sparse stopwords, so word 3-grams rarely repeat across documents, but
    # at least one per sentence, so every sentence passes the quality gates
    words = [r.choice(STOP) if r.random() < 0.1 else r.choice(VOCAB)
             for _ in range(r.randint(n_min, n_max))]
    words[2] = r.choice(STOP)
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def paragraph(r, n_sent):
    return " ".join(sentence(r) for _ in range(n_sent))


def gibberish(r, n_tokens):
    # long tokens and no stopwords: the quality score tops out at 40,
    # below every gate the workloads use
    return " ".join("".join(r.choice("bcdfghjklmnpqrstvwxz") for _ in range(r.randint(11, 14)))
                    for _ in range(n_tokens))


def split_windows(text, size=1200, overlap=120):
    """Python twin of Chunkers.splitTextWindows for ASCII text."""
    text = " ".join(text.split())
    if not text:
        return []
    ov = max(0, min(overlap, size - 1))
    n, start, out = len(text), 0, []
    while start < n:
        end = min(n, start + size)
        if end < n:
            sp = text.find(" ", end, min(n, end + 40))
            if sp >= 0:
                end = sp
        out.append(text[start:end].strip())
        if end == n:
            break
        start = end - ov
    return [c for c in out if c]


def write_parquet(rows, path):
    cols = {f.name: [row[i] for row in rows] for i, f in enumerate(DOCUMENTS_SCHEMA)}
    pq.write_table(pa.table(cols, schema=DOCUMENTS_SCHEMA), path, compression="snappy")


def doc_row(doc_id, text, r):
    return (doc_id, text, r.choice(LANGS), r.choice(SOURCES), len(text))


# ------------------------------------------------------------------ rag_ingest

def messy_doi(r, doi):
    """A raw bibliography spelling of `doi` that normalizes back to it."""
    form = r.randrange(6)
    d = doi.upper() if r.random() < 0.3 else doi
    if form == 0:
        return "https://doi.org/" + d
    if form == 1:
        return "http://dx.doi.org/" + d
    if form == 2:
        return "  " + d + "\u200b"
    if form == 3:
        return "HTTPS://DOI.ORG/" + d
    return d


def article_xml(r, pmcid, doi, kind):
    """One JATS <article>. Returns (xml, section texts the parser yields)."""
    title = sentence(r, 4, 8).rstrip(".")
    # a parse failure has no abstract and a text-less body, which the
    # parser rejects ("No sections/text")
    abstract = "" if kind == "parse_fail" else f"<abstract><p>{paragraph(r, 1)}</p></abstract>"
    head = (f'<article article-type="research-article"><front><article-meta>'
            f'<article-id pub-id-type="pmcid">{pmcid}</article-id>'
            f'<article-id pub-id-type="doi">{doi}</article-id>'
            f'<title-group><article-title>{title}</article-title></title-group>'
            f'{abstract}</article-meta></front>')
    if kind == "abstract_only":
        return head + "</article>", []
    if kind == "parse_fail":
        return head + "<body><sec><title>empty</title></sec></body></article>", []
    secs, texts = [], []
    for s in range(r.randint(3, 6)):
        paras = [paragraph(r, r.randint(2, 6)) for _ in range(r.randint(1, 4))]
        noise = "<fig><caption><p>NOISE figure caption.</p></caption></fig>" if s == 0 else ""
        body = "".join(f"<p>{p}</p>" for p in paras)
        secs.append(f"<sec><title>section {s}</title>{body}{noise}</sec>")
        texts.append(" ".join(paras))
    return head + "<body>" + "".join(secs) + "</body></article>", texts


def gen_rag(seed, out, n):
    r = random.Random(seed * 7919 + 1)
    os.makedirs(os.path.join(out, "jats"), exist_ok=True)
    dois = [f"10.{1000 + r.randrange(9000)}/bench.{seed}.{i:06d}" for i in range(n)]
    kinds = (["resume"] * (n // 10) + ["no_pmcid"] * (n * 8 // 100)
             + ["fetch_fail"] * (n * 4 // 100) + ["parse_fail"] * (n * 2 // 100)
             + ["abstract_only"] * (n * 6 // 100))
    kinds += ["update"] * (n // 10)
    kinds += ["ok"] * (n - len(kinds))
    r.shuffle(kinds)
    idmap, failmap, seen, articles = [], [], [], []
    truth = {"reasons": {}, "chunks": {}, "prior_docs": [], "ok_docs": []}
    for i, (doi, kind) in enumerate(zip(dois, kinds)):
        pmcid = f"PMC{9000000 + i}"
        if kind == "no_pmcid":
            if r.random() < 0.6:
                reason = r.choice(REASON_NO_PMCID)
                failmap.append((doi, reason))
            else:
                reason = "No PMCID"
            truth["reasons"][reason] = truth["reasons"].get(reason, 0) + 1
            continue
        idmap.append((doi, pmcid))
        if kind == "parse_fail":
            articles.append(article_xml(r, pmcid, doi, kind)[0])
        if kind in ("fetch_fail", "parse_fail"):
            reason = "PMC fetch failed (batched only)"
            if r.random() < 0.5:
                failmap.append((doi, reason))
            truth["reasons"][reason] = truth["reasons"].get(reason, 0) + 1
            continue
        xml, texts = article_xml(r, pmcid, doi, kind)
        articles.append(xml)
        if kind == "abstract_only":
            truth["reasons"]["abstract_only"] = truth["reasons"].get("abstract_only", 0) + 1
            continue
        truth["chunks"][pmcid] = sum(len(split_windows(t)) for t in texts)
        if kind == "resume":
            seen.append(doi)
            truth["prior_docs"].append(pmcid)
        else:
            truth["ok_docs"].append(pmcid)
            if kind == "update":
                truth["prior_docs"].append(pmcid)
    r.shuffle(articles)
    for b in range(0, len(articles), RAG_ARTICLES_PER_BATCH):
        with open(os.path.join(out, "jats", f"batch{b // RAG_ARTICLES_PER_BATCH:04d}.xml"), "w") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<pmc-articleset>')
            f.write("".join(articles[b:b + RAG_ARTICLES_PER_BATCH]))
            f.write("</pmc-articleset>\n")
    # bibliography: every DOI once in a messy spelling, 15% again in
    # another spelling (keep-first dedup), plus rows with no usable DOI
    bib = []
    for doi in dois:
        bib.append((messy_doi(r, doi), r.choice(JOURNALS + [""]), sentence(r, 4, 8)))
        if r.random() < 0.15:
            bib.append((messy_doi(r, doi), r.choice(JOURNALS), sentence(r, 4, 8)))
    bib += [(r.choice(["", "   ", "\u200b"]), r.choice(JOURNALS), "no doi") for _ in range(n // 40)]
    r.shuffle(bib)
    _write_csv(os.path.join(out, "bib.csv"), ["doi", "journal", "title"], bib)
    _write_csv(os.path.join(out, "idconv.csv"), ["doi_norm", "pmcid"], idmap)
    _write_csv(os.path.join(out, "efetch_fail.csv"), ["doi_norm", "reason"], failmap)
    _write_csv(os.path.join(out, "seen.csv"), ["doi_norm"], [(d,) for d in seen])
    # what a previous run already ingested: the resume and update slices
    _write_csv(os.path.join(out, "prior.csv"), ["pmcid"], [(p,) for p in truth["prior_docs"]])
    truth["input_rows"] = len(bib)
    truth["summary"] = {
        "input_unique_doi": n,
        "appended": len(truth["ok_docs"]),
        "skipped_existing": len(seen),
        "failures": sum(truth["reasons"].values()),
    }
    truth["articles"] = len(articles)
    return truth


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


# ------------------------------------------------------------------ curate

def gen_curate(seed, out):
    r = random.Random(seed * 7919 + 2)
    boiler = [sentence(r) for _ in range(6)]
    rows, clusters, base_texts = [], {}, []
    for i in range(CURATE_DOCS):
        doc_id = i + 1
        u = r.random()
        if base_texts and u < CURATE_CLUSTER_FRACTION:
            base_id, base = r.choice(base_texts)
            words = base.split(" ")
            for _ in range(max(1, len(words) // 30)):
                words[r.randrange(len(words))] = r.choice(VOCAB)
            text = " ".join(words)
            clusters.setdefault(base_id, [base_id]).append(doc_id)
        elif u < CURATE_CLUSTER_FRACTION + CURATE_LOW_QUALITY:
            text = gibberish(r, r.randint(20, 120))
        else:
            sents = [sentence(r) for _ in range(r.randint(3, 14))]
            if r.random() < 0.5:
                sents.insert(r.randrange(len(sents) + 1), r.choice(boiler))
            text = " ".join(sents)
            if len(base_texts) < 400:
                base_texts.append((doc_id, text))
        rows.append(doc_row(doc_id, text, r))
    write_parquet(rows, os.path.join(out, "documents.parquet"))
    return {"docs": len(rows), "clusters": sorted(clusters.values())}


# ------------------------------------------------------------------ crawl_stream

def crawl_files(seconds):
    return CRAWL_RATE * seconds + CRAWL_WARMUP_FILES


def gen_crawl(seed, seconds, out):
    r = random.Random(seed * 7919 + 3)
    os.makedirs(os.path.join(out, "pending"), exist_ok=True)
    corpus = [doc_row(i + 1, " ".join(sentence(r) for _ in range(r.randint(4, 10))), r)
              for i in range(CRAWL_CORPUS_DOCS)]
    write_parquet(corpus, os.path.join(out, "documents.parquet"))
    novel, files = [], []
    next_id = 10_000_000
    for f in range(crawl_files(seconds)):
        batch = []
        for _ in range(CRAWL_DOCS_PER_FILE):
            u = r.random()
            if u < 0.2:       # verbatim re-crawl of an indexed doc
                text = r.choice(corpus)[1]
            elif u < 0.4:     # low quality, gated out
                text = gibberish(r, r.randint(20, 60))
            else:
                text = " ".join(sentence(r) for _ in range(r.randint(4, 10)))
                if f >= CRAWL_WARMUP_FILES:
                    novel.append(next_id)
            batch.append(doc_row(next_id, text, r))
            next_id += 1
        name = f"f{f:05d}.parquet"
        write_parquet(batch, os.path.join(out, "pending", name))
        files.append({"name": name, "first_id": batch[0][0], "last_id": batch[-1][0],
                      "warmup": f < CRAWL_WARMUP_FILES})
    return {"rate_per_s": CRAWL_RATE, "files": files, "novel": novel,
            "warmup_files": CRAWL_WARMUP_FILES}


def generate(workload, seed, seconds, out):
    os.makedirs(out, exist_ok=True)
    if workload == "rag_ingest":
        truth = gen_rag(seed, out, RAG_UNIQUE_DOIS)
    elif workload == "curate":
        truth = gen_curate(seed, out)
    elif workload == "crawl_stream":
        truth = gen_crawl(seed, seconds, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    truth.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
