"""Round-4 additions (twentieth batch): positional-index phrase
matching, BPE merge training and the point-in-time read — each vs a
verbatim naive python oracle."""

from __future__ import annotations

import random
import re
from collections import Counter, defaultdict

from featureextraction_spark.operators.retrieval import phrase_match


def _naive_phrase(docs, phrase):
    hits = defaultdict(list)
    for doc_id, text in docs:
        toks = [t for t in re.split(r"[ \t\n\r\f\x0b]+", text.lower()) if t]
        for i in range(len(toks) - len(phrase) + 1):
            if tuple(toks[i : i + len(phrase)]) == tuple(phrase):
                hits[doc_id].append(i)
    return {d: (len(ps), min(ps)) for d, ps in hits.items()}


def test_phrase_match_vs_naive(spark):
    rng = random.Random(53)
    vocab = ["red", "blue", "fox", "dog", "the", "a"]
    docs = []
    for i in range(120):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 60))]
        docs.append((i, " ".join(words)))
    docs.append((900, "the red fox the red fox the red"))
    docs.append((901, "red fox"))  # partial only
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_match(df, ("the", "red", "fox")).collect()
    }
    assert got == _naive_phrase(docs, ("the", "red", "fox"))
    assert got[900] == (2, 0)
    assert 901 not in got


def test_phrase_match_overlapping_and_repeated_terms(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "b a a b")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_match(df, ("a", "a")).collect()
    }
    assert got == {1: (3, 0), 2: (1, 1)}


def test_phrase_match_single_term(spark):
    df = spark.createDataFrame([(1, "x y x")], "doc_id long, text string")
    got = phrase_match(df, ("x",)).collect()
    assert (got[0].n_matches, got[0].first_pos) == (2, 0)


def _naive_bpe(texts, n_merges, min_len=2):
    words = Counter()
    for t in texts:
        for w in re.split(r"[ \t\n\r\f\x0b]+", t.lower()):
            if len(w) >= min_len:
                words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (l, r), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, pend = [], None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == l and s == r:
                    out.append(l + r)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_vs_naive(spark):
    from featureextraction_spark.functions.textstats import bpe_train

    rng = random.Random(59)
    vocab = ["lower", "newest", "widest", "low", "lowest", "news", "wide"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
             for _ in range(60)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_train(df, n_merges=8)
    assert got == _naive_bpe(texts, 8)


def test_bpe_train_sennrich_example(spark):
    from featureextraction_spark.functions.textstats import bpe_train

    df = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                      + ["widest"] * 3))],
        "doc_id long, text string",
    )
    got = bpe_train(df, n_merges=4)
    # es (9) -> est (9) -> lo (7) -> low (7): the ACL'16 walkthrough
    assert [(m[1], m[2]) for m in got] == [
        ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")
    ]


def test_point_in_time_read_vs_naive_no_leakage(spark):
    from featureextraction_spark.operators.scd import scd2_intervals
    from featureextraction_spark.plans.pit_read import point_in_time_read

    rng = random.Random(61)
    logs = {"m": [], "n": []}
    dim_changes = []
    probes = []
    for u in range(25):
        for name in logs:
            t = rng.randrange(0, 900)
            for _ in range(rng.randint(0, 6)):
                logs[name].append((u, rng.randrange(10**6), t,
                                   round(rng.uniform(0, 10), 3)))
                t += rng.randrange(1, 200)
        t = rng.randrange(0, 900)
        for i in range(rng.randint(0, 4)):
            dim_changes.append((u, i, t, f"v{i}"))
            t += rng.randrange(1, 300)
        for _ in range(8):
            probes.append((u, rng.randrange(10**6), rng.randrange(1000)))

    def mk_log(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, t long, value double"
        ).selectExpr(
            "user_id", "event_id", "value",
            "CAST(to_timestamp(t) AS timestamp) AS ts",
        )

    dim = scd2_intervals(
        spark.createDataFrame(
            dim_changes, "user_id long, event_id long, t long, sv string"
        ).selectExpr(
            "user_id", "event_id", "sv",
            "CAST(to_timestamp(t) AS timestamp) AS ts",
        ),
        state="sv",
    )
    pdf = spark.createDataFrame(
        probes, "user_id long, event_id long, t long"
    ).selectExpr(
        "user_id", "event_id",
        "CAST(to_timestamp(t) AS timestamp) AS ts",
        "t * 1000000 AS ts_us",
    )
    out = point_in_time_read(
        pdf,
        asof_sources=[("m_", mk_log(logs["m"]), ["value"]),
                      ("n_", mk_log(logs["n"]), ["value"])],
        dim_sources=[("d_", dim)],
    )
    got = {
        (r.user_id, r.event_id): (r.m_value, r.n_value, r.d_state)
        for r in out.collect()
    }
    assert len(got) == len(probes)

    def last_at(rows, u, t):
        elig = [(rt, eid, v) for (ru, eid, rt, v) in rows
                if ru == u and rt <= t]
        if not elig:
            return None
        return max(elig)[2]

    for u, pid, t in probes:
        mv = last_at(logs["m"], u, t)
        nv = last_at(logs["n"], u, t)
        dv = None
        for (du, i, dt_, sv) in dim_changes:
            if du == u and dt_ <= t:
                dv = sv
        assert got[(u, pid)] == (mv, nv, dv), (u, pid, t)
