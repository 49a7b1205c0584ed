"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes byte-identical
files for a given seed; the engine sees only the files. Each returns a
manifest of what was planted, so the output checks and the measured
shares in a run's report come from the generator, not from the engine.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------
# tweets: the reference wire format, one JSON array of "label,text"
# per line, one file per micro-batch
# --------------------------------------------------------------------

POS_WORDS = (
    "love loved loving loves great happy happier happiest awesome enjoy enjoyed "
    "enjoying wonderful best win winning won excited amazing fun smile smiling "
    "thanks glad beautiful perfect sweet nice laugh laughing"
).split()
NEG_WORDS = (
    "hate hated hating hates awful sad sadder worst lose losing lost angry "
    "annoyed annoying terrible horrible boring bored cry crying sick tired "
    "broken fail failed failing miss missed ugly"
).split()
STOP_WORDS = "the a to and of is in it for on my i you that this with was".split()
_EMOJI = ["\U0001f600", "\U0001f622", "❤", "\U0001f44d", "été"]
_SYLL = "ka lo mi ne ru ta vo shi pe da ko lu ri sa te bo".split()

LABEL_NOISE = 0.15
NO_COMMA_RATE = 0.004
BAD_JSON_EVERY = 4  # one malformed JSON line in every 4th file


def _vocab(n: int) -> list[str]:
    """A fixed neutral vocabulary (independent of the run seed, so every
    seed draws from the same language)."""
    rng = np.random.default_rng(12345)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(_SYLL[i] for i in rng.integers(0, len(_SYLL), rng.integers(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


_VOCAB = _vocab(4000)


def _mixed_case(rng: np.random.Generator, w: str) -> str:
    r = rng.random()
    if r < 0.1:
        return w.upper()
    if r < 0.25:
        return w.capitalize()
    return w


def _tweet(rng: np.random.Generator, positive: bool) -> str:
    lex = POS_WORDS if positive else NEG_WORDS
    n_neutral = int(rng.integers(4, 14))
    ranks = np.minimum(rng.zipf(1.3, n_neutral), len(_VOCAB)) - 1
    toks = [_VOCAB[r] for r in ranks]
    toks += [STOP_WORDS[i] for i in rng.integers(0, len(STOP_WORDS), int(rng.integers(1, 4)))]
    toks += [lex[i] for i in rng.integers(0, len(lex), int(rng.integers(1, 4)))]
    rng.shuffle(toks)
    toks = [_mixed_case(rng, t) for t in toks]
    if rng.random() < 0.35:
        toks.insert(0, f"@user{int(rng.integers(0, 5000))}")
    if rng.random() < 0.25:
        toks.append(f"#{_VOCAB[int(rng.integers(0, 200))]}")
    if rng.random() < 0.2:
        toks.append(f"http://t.co/{int(rng.integers(0, 1 << 30)):x}")
    if rng.random() < 0.15:
        toks.append(_EMOJI[int(rng.integers(0, len(_EMOJI)))])
    if rng.random() < 0.15:
        toks.append(f"{int(rng.integers(0, 1000))}!!")
    if rng.random() < 0.1:
        toks.insert(int(rng.integers(1, len(toks))), "&amp;")
    sep = "  " if rng.random() < 0.1 else " "
    text = sep.join(toks)
    if rng.random() < 0.1:
        text = text.replace(" ", ", ", 1)  # the wire splits on the FIRST comma only
    return text


def write_tweet_backlog(
    out_dir: str, seed: int, per_file: int, n_files: int, stream: int = 0,
    first_index: int = 0,
) -> dict:
    """Write ``n_files`` wire files of ``per_file`` records each.

    About 15% of labels are flipped (so held-out F1 is bounded away
    from 1.0), ~0.4% of records carry no comma (``no_comma``
    quarantine) and every 4th file carries one extra line that is not
    JSON (``bad_json`` quarantine). File modification times increase
    with the file index, so the file source replays them in order;
    ``first_index`` numbers the files, to add a stream to a directory.

    Returns the manifest: per file, the well-formed tweet texts (for
    the held-out recount) and the planted quarantine count; overall,
    the measured share of each planted property."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1, stream])
    files = []
    n = {"records": 0, "noisy": 0, "no_comma": 0, "bad_json": 0,
         "mention": 0, "url": 0, "hashtag": 0, "inner_comma": 0}
    base_mtime = 1_700_000_000
    for fi in range(first_index, first_index + n_files):
        recs: list[str] = []
        texts: list[str] = []
        planted = 0
        for _ in range(per_file):
            positive = bool(rng.random() < 0.5)
            if rng.random() < NO_COMMA_RATE:
                recs.append(_tweet(rng, positive).replace(",", ""))
                planted += 1
                n["no_comma"] += 1
                continue
            text = _tweet(rng, positive)
            noisy = bool(rng.random() < LABEL_NOISE)
            label = "4" if positive != noisy else "0"
            recs.append(f"{label},{text}")
            texts.append(text)
            n["noisy"] += noisy
            n["mention"] += "@" in text
            n["url"] += "://" in text
            n["hashtag"] += "#" in text
            n["inner_comma"] += "," in text
        n["records"] += per_file
        lines = [json.dumps(recs)]
        if fi % BAD_JSON_EVERY == BAD_JSON_EVERY - 1:
            lines.append('["4,truncated payload')
            planted += 1
            n["bad_json"] += 1
        path = os.path.join(out_dir, f"batch_{fi:05d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (base_mtime + fi, base_mtime + fi))
        files.append({"texts": texts, "quarantine": planted,
                      "generated": len(texts) + planted})
    well_formed = n["records"] - n["no_comma"]
    shares = {
        "label_noise": n["noisy"] / well_formed,
        "no_comma": n["no_comma"] / n["records"],
        "bad_json_lines": n["bad_json"] / n_files,
        "mention": n["mention"] / well_formed,
        "url": n["url"] / well_formed,
        "hashtag": n["hashtag"] / well_formed,
        "inner_comma": n["inner_comma"] / well_formed,
    }
    return {"files": files, "shares": shares}


# --------------------------------------------------------------------
# warehouse: the engine's ten tables (TPC-H-ish star + events +
# documents + embeddings), same schemas and value domains as the
# repository's sf testdata
# --------------------------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64


def _ts(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # ~5% near-duplicates (an earlier doc plus one token) and a few
    # exact copies, so the dedup queries find clusters
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def write_warehouse(out_dir: str, seed: int, sf: float) -> dict:
    """Write ``<table>.parquet`` for the ten tables at scale ``sf``
    (sf=0.1: 600k lineitem rows, 5000 documents, 2000 vectors).
    Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(15_000 * sf)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("large hot blue old cold red small new".split())
    noun = np.array("ring bolt plate gear widget rod anvil gizmo".split())
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day_us = 86_400 * 10**6
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day_us)})
    gaps = rng.exponential(26.0 * 10**6, n_ev).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["signup", "purchase", "view", "click", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _doc_texts(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 7, n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.07 * centers[labels] + rng.normal(0, 1 / np.sqrt(EMB_DIM), (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def cached_warehouse(cache_root: str, seed: int, sf: float) -> str:
    """The warehouse for (seed, sf) under ``cache_root``, generated on
    first use and reused after: its path stays the same across runs,
    so artifacts the engine keys on the data path (q165's IVF index)
    persist too. Written to a temporary directory and renamed, so a
    run cut short never leaves a partial warehouse behind."""
    path = os.path.join(cache_root, f"warehouse-sf{sf}-seed{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        write_warehouse(tmp, seed, sf)
        os.rename(tmp, path)
    return path


# --------------------------------------------------------------------
# ingest door: a document stream spliced from the corpus
# --------------------------------------------------------------------

def _letters(n: int) -> str:
    out = ""
    while True:
        n, r = divmod(n, 26)
        out = chr(97 + r) + out
        if n == 0:
            return out


def eval_gram(doc_id: int) -> str:
    """A 13-gram of tokens no other document shares: one evaluation
    item per planted doc, so the gram is never repeated boilerplate
    that the segment-dedup rewrite would cut before decontamination."""
    tag = _letters(doc_id)
    return " ".join(f"evaltok{tag}{chr(97 + i)}" for i in range(13))


NOVEL_WORDS = 12


def write_door_stream(
    out_dir: str,
    seed: int,
    corpus: list[tuple[int, str]],
    corpus_vecs: list[list[float]],
    per_file: int,
    n_files: int,
) -> dict:
    """Write ``n_files`` JSON-lines files of ``per_file`` docs, each
    ``{"doc_id", "text", "embedding"}``: ~10% exact duplicates of a
    corpus doc, ~5% novel splices carrying the planted eval 13-gram,
    ~10% text-novel splices whose vector nearly copies a corpus vector,
    and novel splices with a random vector for the rest (the mix of the
    repository's door bench).

    Returns the manifest: per file the doc ids of each planted class,
    the evaluation set (one ``(id, text)`` item per planted 13-gram) and
    the measured share of each class."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    dim = len(corpus_vecs[0])
    files = []
    counts = {"exact_dup": 0, "eval_gram": 0, "vec_near_dup": 0, "novel": 0}
    eval_items: list[tuple[int, str]] = []
    doc_id = 1_000_000
    base_mtime = 1_700_000_000
    for fi in range(n_files):
        planted = {k: [] for k in counts}
        path = os.path.join(out_dir, f"docs_{fi:05d}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            for _ in range(per_file):
                text = corpus[int(rng.integers(0, len(corpus)))][1]
                roll = rng.random()
                if roll < 0.10:
                    kind = "exact_dup"
                    vec = corpus_vecs[int(rng.integers(0, len(corpus_vecs)))]
                else:
                    wa = text.split()
                    wb = corpus[int(rng.integers(0, len(corpus)))][1].split()
                    # the corpus draws on a 29-word vocabulary: words from
                    # the tweets' 4000-word vocabulary, leading the text,
                    # keep a novel doc apart from the others on the dedup
                    # gate's fingerprint (its first cleaned tokens) and on
                    # token-set Jaccard
                    fresh = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), NOVEL_WORDS)]
                    text = " ".join([f"novel{doc_id}"] + fresh + wa[: len(wa) // 2]
                                    + wb[len(wb) // 2:])
                    if roll < 0.15:
                        kind = "eval_gram"
                        text = f"{text} {eval_gram(doc_id)}"
                        eval_items.append((len(eval_items), f"prelude {eval_gram(doc_id)} coda"))
                        vec = rng.normal(0, 1, dim).tolist()
                    elif roll >= 0.90:
                        kind = "vec_near_dup"
                        src = np.asarray(corpus_vecs[int(rng.integers(0, len(corpus_vecs)))])
                        vec = (src * (1 + rng.uniform(-1e-3, 1e-3, dim))).tolist()
                    else:
                        kind = "novel"
                        vec = rng.normal(0, 1, dim).tolist()
                planted[kind].append(doc_id)
                counts[kind] += 1
                vec = [round(float(x), 7) for x in vec]
                f.write(json.dumps({"doc_id": doc_id, "text": text, "embedding": vec}) + "\n")
                doc_id += 1
        os.utime(path, (base_mtime + fi, base_mtime + fi))
        files.append({"n": per_file, **planted})
    total = n_files * per_file
    return {"files": files, "eval": eval_items,
            "shares": {k: v / total for k, v in counts.items()}}
