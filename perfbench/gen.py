"""Seeded input generator for the benchmark workloads.

Everything the program reads is written here, from the seed alone: the
program never sees the seed, only the files. Each generator also returns the
expected outcomes the checker compares the program's outputs against.

Events follow the `events` table schema (event_id, ts, user_id, event_type,
value, props). A row is rule-invalid when it breaks one of the three
validation rules the benchmark's pipeline spec declares (see `RULES`); the
share of such rows is fixed, their positions are seeded.
"""

import json
import os
import random
import time

# 2024-01-01T00:00:00Z, the hour every generated timestamp is offset from.
BASE_EPOCH_S = 1704067200

VALID_TYPES = ("click", "view", "purchase", "signup")
# The pipeline spec's rules, mirrored for the checker:
#   value_le_300: value <= 300;  known_type: event_type in VALID_TYPES;
#   k_lt_80: props.k < 80.
RULES = ("value_le_300", "known_type", "k_lt_80")

# etl_small: one-hour batches started through the HTTP control plane.
SMALL_ROWS = 240
SMALL_INVALID_SHARE = 0.08
SMALL_GATE_FAIL_EVERY = 5       # one batch in five fails the quality gate
SMALL_FLAKY_EVERY = 5           # one in five throws once in transform
SMALL_GATE_BAD_SHARE = 0.30     # zero-value rows in a gate-failing batch
SMALL_WARMUP_RUNS = 4           # two per client (EtlSmall.WarmRounds)
# stream_ingest: files landed on a schedule (StreamIngest.IntervalMs), then
# a backlog drained.
STREAM_INTERVAL_S = 0.25
STREAM_FILE_ROWS = 100
STREAM_MALFORMED_SHARE = 0.01
STREAM_INVALID_SHARE = 0.05
STREAM_BACKLOG_FILES = 12
STREAM_BACKLOG_ROWS = 500
STREAM_WARMUP_FILES = 4
# corpus_dedup: a `documents` corpus shaped after the repo's sf0.1 test data,
# whose `documents` table measures: 5000 documents; a vocabulary of 30
# words, each ~3.3 % of all tokens; 10-99 tokens per document, uniform (mean
# 54); 5 % of documents are another document with " dup" appended; lang en
# 41 %, zh, es, fr and de ~15 % each; 20 sources. The corpus has the size of
# d22's hostile slice (Dedup.HostileSliceN = 2000 documents), so all three
# detectors read all of it.
DEDUP_DOCS = 2000
DEDUP_VOCAB = 30
DEDUP_TOKENS = (10, 100)            # tokens per document, uniform in [10, 100)
DEDUP_PLANTED_SHARE = 0.05          # planted near-duplicate copies
DEDUP_PLANTED_EDITS = (0, 0, 1, 2, 3, 5, 7, 9, 12)  # token edits, cycled over the copies
DEDUP_BOILERPLATE_SHARE = 0.10      # documents ending in the shared block
DEDUP_BOILERPLATE_TOKENS = 20
DEDUP_LANGS = ("en",) * 41 + ("zh", "es", "fr", "de") * 15
DEDUP_SOURCES = 20
# d22 keeps docs with doc_id < 2000 (the whole corpus here) and appends this
# block (Dedup.HostileBoilerplate) to 9 docs in 10 with at least 44 tokens;
# the checker applies the same transform.
D22_BOILERPLATE = ("all rights reserved this document is provided as is without "
                   "warranty of any kind subscribe to our newsletter for updates")
D22_MOD, D22_MIN_TOKS = 10, 44
D20_TAU, D22_TAU = 0.5, 0.6


def iso_ms(epoch_ms):
    s, ms = divmod(epoch_ms, 1000)
    t = time.gmtime(s)
    return "%04d-%02d-%02dT%02d:%02d:%02d.%03dZ" % (
        t.tm_year, t.tm_mon, t.tm_mday, t.tm_hour, t.tm_min, t.tm_sec, ms)


def cents_str(c):
    return "%d.%02d" % divmod(c, 100)


def make_event(rng, event_id, hour_offset, invalid=False, zero_value=False):
    """One event row as a dict plus its expected routing.

    Values are whole cents, so every sum the checker needs is exact."""
    ms = rng.randrange(3600 * 1000)
    epoch_ms = (BASE_EPOCH_S + hour_offset * 3600) * 1000 + ms
    etype = VALID_TYPES[rng.randrange(4)]
    cents = 0 if zero_value else rng.randrange(1, 30001)
    k = rng.randrange(80)
    broken = None
    if invalid:
        broken = RULES[rng.randrange(3)]
        if broken == "value_le_300":
            cents = rng.randrange(30001, 100000)
        elif broken == "known_type":
            etype = "error"
        else:
            k = rng.randrange(80, 100)
    return {
        "event_id": event_id, "epoch_ms": epoch_ms, "user_id": rng.randrange(5000),
        "event_type": etype, "cents": cents, "k": k, "hour": hour_offset,
        "valid": broken is None,
    }


def event_line(e):
    return ('{"event_id":%d,"ts":"%s","user_id":%d,"event_type":"%s",'
            '"value":%s,"props":"{\\"k\\": %d}"}' % (
                e["event_id"], iso_ms(e["epoch_ms"]), e["user_id"], e["event_type"],
                cents_str(e["cents"]), e["k"]))


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def invalid_positions(rng, n, share):
    return set(rng.sample(range(n), int(round(n * share))))


def event_batch(rng, id_base, n, first_hour, n_hours, invalid_share, zero_share=0.0):
    bad = invalid_positions(rng, n, invalid_share)
    zeros = set(rng.sample(sorted(set(range(n)) - bad), int(round(n * zero_share))))
    return [make_event(rng, id_base + i, first_hour + rng.randrange(n_hours),
                       invalid=i in bad, zero_value=i in zeros) for i in range(n)]


def gen_small(rng, out, seconds):
    """One-hour batches; a fixed share fails the gate, another throws once."""
    n_batches = max(12, seconds * 2 + 8)
    meta = []
    for b in range(n_batches):
        gate_fail = b % SMALL_GATE_FAIL_EVERY == 2
        flaky = b % SMALL_FLAKY_EVERY == 4
        rows = event_batch(rng, b * 10_000_000, SMALL_ROWS, rng.randrange(24 * 28), 1,
                           SMALL_INVALID_SHARE,
                           SMALL_GATE_BAD_SHARE if gate_fail else 0.0)
        name = "b%03d" % b
        write_lines(os.path.join(out, "small", name + ".json"), map(event_line, rows))
        meta.append({"name": name, "rows": rows, "flaky": flaky,
                     "expect": "FAILED" if gate_fail else "SUCCEEDED"})
    # the run order is seeded too: clients take batches in this order. It
    # is shuffled within blocks of five so that every seed's first runs hold
    # the same mix (a gate failure is ~25 % shorter, a retried run longer)
    for i in range(0, len(meta), SMALL_GATE_FAIL_EVERY):
        block = meta[i:i + SMALL_GATE_FAIL_EVERY]
        rng.shuffle(block)
        meta[i:i + SMALL_GATE_FAIL_EVERY] = block
    for w in range(SMALL_WARMUP_RUNS):
        warm = event_batch(rng, 900_000_000 + w * 10_000_000, SMALL_ROWS, 0, 1,
                           SMALL_INVALID_SHARE)
        write_lines(os.path.join(out, "small", "warmup%d.json" % w), map(event_line, warm))
    with open(os.path.join(out, "small", "plan.json"), "w") as f:
        json.dump([{"name": m["name"], "flaky": m["flaky"]} for m in meta], f)
    return {"batches": meta}


def stream_file(rng, id_base, n, hour):
    """Stream lines: ~1 % malformed (truncated JSON), ~5 % rule-invalid."""
    rows = event_batch(rng, id_base, n, hour, 1, STREAM_INVALID_SHARE)
    malformed = invalid_positions(rng, n, STREAM_MALFORMED_SHARE)
    lines = []
    for i, e in enumerate(rows):
        line = event_line(e)
        if i in malformed:
            line = line[:len(line) // 2]
            e["valid"] = False
            e["malformed"] = True
        lines.append(line)
    return rows, lines


def gen_stream(rng, out, seconds, interval_s):
    n_steady = int(seconds / interval_s) + 8
    steady = []
    for i in range(n_steady):
        rows, lines = stream_file(rng, i * 100_000, STREAM_FILE_ROWS, i % (24 * 28))
        write_lines(os.path.join(out, "stream", "steady", "f%04d.json" % i), lines)
        steady.append(rows)
    backlog = []
    for i in range(STREAM_BACKLOG_FILES):
        rows, lines = stream_file(rng, 500_000_000 + i * 100_000, STREAM_BACKLOG_ROWS,
                                  rng.randrange(24 * 28))
        write_lines(os.path.join(out, "stream", "backlog", "f%04d.json" % i), lines)
        backlog.append(rows)
    warmup = []
    for i in range(STREAM_WARMUP_FILES):
        rows, lines = stream_file(rng, 900_000_000 + i * 100_000, STREAM_FILE_ROWS, 0)
        write_lines(os.path.join(out, "stream", "warmup", "w%04d.json" % i), lines)
        warmup.append(rows)
    return {"steady": steady, "backlog": backlog, "warmup": warmup}


# --- documents -------------------------------------------------------------

def vocabulary(rng, n):
    """Distinct lowercase pseudo-words built from seeded syllables."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(cons[rng.randrange(len(cons))] + vows[rng.randrange(5)]
                          for _ in range(rng.randrange(2, 4))))
    return sorted(words)


def shingles(text):
    """Distinct word 3-grams of lower(trim(text)) with whitespace collapsed —
    the program's shingle semantics for single-spaced lowercase ASCII."""
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def d22_text(doc_id, text):
    """The transform d22 applies before its index (Dedup.hostileDocs)."""
    if doc_id % D22_MOD != 0 and len(text.split(" ")) >= D22_MIN_TOKS:
        return text + " " + D22_BOILERPLATE
    return text


def gen_docs(rng, n_docs, planted_edits, n_planted):
    """`n_docs` texts, the last `n_planted` of them (before the id shuffle)
    copies of earlier ones: a copy with no edits is exact, one with edits
    has that many tokens redrawn and " dup" appended, as sf0.1's are."""
    vocab = vocabulary(rng, DEDUP_VOCAB)
    boiler = [vocab[rng.randrange(len(vocab))] for _ in range(DEDUP_BOILERPLATE_TOKENS)]
    n_orig = n_docs - n_planted
    # a fixed count, not a per-document coin: the candidate join grows with
    # its square
    with_boiler = set(rng.sample(range(n_orig), int(n_orig * DEDUP_BOILERPLATE_SHARE)))
    texts = []
    for i in range(n_orig):
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(*DEDUP_TOKENS))]
        if i in with_boiler:
            toks += boiler
        texts.append(" ".join(toks))
    pairs = []
    for i in range(n_planted):
        edits = planted_edits[i % len(planted_edits)]
        src = rng.randrange(n_orig)
        toks = texts[src].split(" ")
        for pos in rng.sample(range(len(toks)), min(edits, len(toks))):
            toks[pos] = vocab[rng.randrange(len(vocab))]
        texts.append(" ".join(toks + (["dup"] if edits else [])))
        pairs.append((src, len(texts) - 1))
    # shuffle doc ids so planted copies are not clustered at the end
    order = list(range(n_docs))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    docs = [None] * n_docs
    for old, text in enumerate(texts):
        docs[new_id[old]] = text
    planted = sorted(tuple(sorted((new_id[a], new_id[b]))) for a, b in pairs)
    return docs, planted


def dedup_expectations(docs, planted):
    """Exact Jaccard of each planted pair under d20's and d22's inputs."""
    out = []
    for a, b in planted:
        out.append({"a": a, "b": b,
                    "j20": jaccard(docs[a], docs[b]),
                    "j22": jaccard(d22_text(a, docs[a]), d22_text(b, docs[b])),
                    "identical": docs[a] == docs[b]})
    return out


def doc_lines(rng, docs):
    return [json.dumps({"doc_id": i, "text": t, "lang": rng.choice(DEDUP_LANGS),
                        "source": "src%d" % (i % DEDUP_SOURCES), "n_chars": len(t)})
            for i, t in enumerate(docs)]


def gen_dedup(rng, out):
    docs, planted = gen_docs(rng, DEDUP_DOCS, DEDUP_PLANTED_EDITS,
                             int(DEDUP_DOCS * DEDUP_PLANTED_SHARE))
    write_lines(os.path.join(out, "dedup", "corpus.jsonl"), doc_lines(rng, docs))
    return {"docs": docs, "planted": dedup_expectations(docs, planted)}


def generate(workload, seed, out, seconds):
    """Write `workload`'s inputs under `out`; return what the checker needs."""
    rng = random.Random("%s:%d" % (workload, seed))
    if workload == "etl_small":
        return gen_small(rng, out, seconds)
    if workload == "stream_ingest":
        return gen_stream(rng, out, seconds, STREAM_INTERVAL_S)
    if workload == "corpus_dedup":
        return gen_dedup(rng, out)
    raise ValueError("unknown workload %r" % workload)
