"""Property-based tests (hypothesis): distributed operators vs tiny
in-memory reference models on randomized inputs.

The oracle suite pins each operator to DuckDB on fixed tables; these
tests attack the same operators with adversarial small inputs —
duplicate keys, empty sides, ties at window boundaries, disconnected
graph shapes — where the reference model is a few lines of plain
Python. Spark jobs are slow per example, so examples are capped low;
the value is the shrunk counterexample when a semantics bug slips in.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from de_polars_spark.operators.asof import asof_join_backward, range_count_join
from de_polars_spark.operators.dedup import connected_components
from de_polars_spark.operators.merge import merge_snapshot
from de_polars_spark.operators.skew import salted_sum_count

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (key, time) pairs over a deliberately tiny domain so collisions and
# boundary ties actually happen
_kt = st.tuples(st.integers(0, 3), st.integers(0, 20))


@given(
    left=st.lists(_kt, min_size=1, max_size=12),
    right=st.sets(_kt, max_size=12),
)
@settings(**_SETTINGS)
def test_asof_matches_model(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid int, k int, t int"
    ).selectExpr("lid", "k", "timestamp_micros(t) AS ts")
    rows = [(k, t, k * 1000 + t) for (k, t) in right] or [(99, 0, 0)]
    rdf = spark.createDataFrame(rows, "k int, t int, val int").selectExpr(
        "k", "timestamp_micros(t) AS ts", "val"
    )
    got = {
        r.lid: r.val
        for r in asof_join_backward(
            ldf, rdf, ["k"], "ts", "ts", {"val": "val"}
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, k * 1000 + rt) for (rk, rt) in right if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, t, cands)


@given(
    left=st.lists(_kt, min_size=1, max_size=10),
    right=st.lists(_kt, max_size=15),
    window=st.integers(1, 8),
)
@settings(**_SETTINGS)
def test_range_count_matches_model(spark, left, right, window):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid int, k int, t int"
    ).selectExpr("lid", "k", "timestamp_micros(t * 1000000) AS ts")
    rows = right or [(99, 0)]
    rdf = spark.createDataFrame(rows, "k int, t int").selectExpr(
        "k", "timestamp_micros(t * 1000000) AS ts"
    )
    got = {
        r.lid: r.n
        for r in range_count_join(ldf, rdf, ["k"], "ts", "ts", window, "n").collect()
    }
    for i, (k, t) in enumerate(left):
        expect = sum(1 for (rk, rt) in right if rk == k and t <= rt < t + window)
        assert got[i] == expect, (i, k, t, window)


@given(
    base=st.dictionaries(st.integers(0, 9), st.text("ab", max_size=2), max_size=8),
    ops=st.lists(
        st.tuples(st.integers(0, 9), st.text("cd", max_size=2), st.booleans()),
        max_size=8,
        unique_by=lambda x: x[0],
    ),
)
@settings(**_SETTINGS)
def test_merge_matches_model(spark, base, ops):
    bdf = spark.createDataFrame(
        list(base.items()) or [(99, "z")], "k int, v string"
    )
    cdf = spark.createDataFrame(
        [(k, v, "delete" if is_del else "upsert") for k, v, is_del in ops]
        or [(98, "y", "upsert")],
        "k int, v string, op string",
    )
    got = {r.k: r.v for r in merge_snapshot(bdf, cdf, ["k"], "op").collect()}
    model = dict(base) if base else {99: "z"}
    for k, v, is_del in ops or [(98, "y", False)]:
        if is_del:
            model.pop(k, None)
        else:
            model[k] = v
    assert got == model


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=20,
    ),
    n_salts=st.integers(1, 5),
)
@settings(**_SETTINGS)
def test_salted_agg_matches_model(spark, rows, n_salts):
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "rid int, k int, v int"
    ).withColumn("v", F.col("v").cast("double") / 8)
    got = {
        (r.k): (r.total, r.n_rows)
        for r in salted_sum_count(
            df, ["k"], F.col("v"), F.col("rid"), n_salts=n_salts
        ).collect()
    }
    from collections import defaultdict
    from decimal import Decimal

    sums, counts = defaultdict(Decimal), defaultdict(int)
    for k, v in rows:
        # mirror the operator's decimal(38,6) quantization of each value
        sums[k] += Decimal(str(round(v / 8, 6)))
        counts[k] += 1
    for k in counts:
        assert got[k][1] == counts[k]
        assert abs(got[k][0] - float(sums[k])) < 1e-9, (k, got[k], sums[k])


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=15
    )
)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component_id for r in connected_components(df).collect()
    }
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    nodes = {n for e in edges for n in e}
    roots: dict[int, int] = {}
    for n in sorted(nodes):
        roots.setdefault(find(n), n)
    expect = {n: roots[find(n)] for n in nodes}
    assert got == expect


@given(
    values=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_exact_quantiles_match_numpy(spark, values):
    import numpy as np

    from de_polars_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame([("g", float(v)) for v in values], "g string, v double")
    fracs = [0.25, 0.5, 0.95]
    row = exact_quantiles(df, ["g"], "v", fracs, round_dp=6).collect()[0]
    for p, col in zip(fracs, ["p25", "p50", "p95"]):
        # numpy's default 'linear' interpolation IS percentile_cont
        expect = float(np.percentile(values, p * 100))
        assert abs(row[col] - expect) < 1e-4, (p, row[col], expect, values)
    assert row["n_items"] == len(values)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=30).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=5,
    ),
    window=st.integers(2, 8),
    overlap=st.integers(0, 3),
)
@settings(**_SETTINGS)
def test_chunking_matches_model(spark, texts, window, overlap):
    """Every chunk reproduces a slice of the token list; union of chunks
    covers every token; stride spacing holds."""
    from de_polars_spark.operators.chunking import chunk_documents

    if overlap >= window:
        overlap = window - 1
    stride = window - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    rows = chunk_documents(df, "doc_id", "text", window, overlap).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    import hashlib

    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        got = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        if not toks:
            assert got == []
            continue
        covered = set()
        for r in got:
            assert r.chunk_start == r.chunk_idx * stride
            assert r.chunk_len == min(window, len(toks) - r.chunk_start) > 0
            piece = " ".join(toks[r.chunk_start : r.chunk_start + window])
            assert r.chunk_hash == hashlib.md5(piece.encode()).hexdigest()
            covered |= set(range(r.chunk_start, r.chunk_start + r.chunk_len))
        assert covered == set(range(len(toks)))
        # chunk count is exactly the model's
        import math
        n = len(toks)
        expect = 1 if n <= window else 1 + math.ceil((n - window) / stride)
        assert len(got) == expect


@given(
    members=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 2), st.integers(0, 5)),
        min_size=1,
        max_size=12,
        unique_by=lambda x: x[0],
    ),
)
@settings(**_SETTINGS)
def test_select_canonical_matches_model(spark, members):
    """Per component: keeper = max quality, ties to lowest id."""
    from de_polars_spark.operators.dedup import select_canonical

    comps = spark.createDataFrame(
        [(n, c) for n, c, _ in members], "node bigint, component_id bigint"
    )
    docs = spark.createDataFrame(
        [(n, q) for n, _, q in members], "doc_id bigint, q bigint"
    )
    got = {
        r.component_id: (r.kept_id, r.kept_quality, r.n_dropped, r.dropped_id_sum)
        for r in select_canonical(comps, docs, "doc_id", "q").collect()
    }
    from collections import defaultdict

    model = defaultdict(list)
    for n, c, q in members:
        model[c].append((n, q))
    for c, lst in model.items():
        best = max(lst, key=lambda x: (x[1], -x[0]))
        dropped = [n for n, _ in lst if n != best[0]]
        assert got[c] == (best[0], best[1], len(dropped), sum(dropped))


# raw texts with runs of spaces, tabs and newlines inside tokens and
# between them, the empty string and NULL
_raw_text = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from(["a", "bb", "é", " ", "   ", "\t", "\n"]), max_size=12
    ).map("".join),
)


@given(texts=st.lists(_raw_text, min_size=1, max_size=6), n=st.integers(1, 8))
@settings(**_SETTINGS)
def test_ngrams_match_python_model(spark, texts, n):
    """``TX.ngrams`` with its positions is the list of ``n``-token windows
    of the space-split tokens; NULL text gives a NULL array."""
    from de_polars_spark.functions import text as TX

    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    rows = (
        df.select("id", TX.ngrams(F.col("text"), n).alias("g"))
        .select("id", F.isnull("g").alias("is_null"), F.posexplode_outer("g"))
        .collect()
    )
    grams: dict = {}
    nulls = {}
    for r in rows:
        nulls[r.id] = r.is_null
        if r.pos is not None:
            grams.setdefault(r.id, []).append((r.pos, r.col))
    for i, s in enumerate(texts):
        assert nulls[i] == (s is None), repr(s)
        t = [w for w in (s or "").split(" ") if w]
        expect = [(p, " ".join(t[p : p + n])) for p in range(len(t) - n + 1)]
        assert sorted(grams.get(i, [])) == expect, (repr(s), n)


# tokens drawn from a tiny vocabulary so duplicate grams and shared
# shingles across docs actually occur
_token = st.sampled_from(["a", "bb", "ccc", "d", "e"])
_doc = st.lists(_token, min_size=0, max_size=10)


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_minhash_signature_matches_python_model(spark, docs):
    """The n-gram + MIN-aggregate signature must equal the naive
    per-doc python minhash over distinct 2-gram strings."""
    import hashlib

    from de_polars_spark.operators.dedup import _minhash_sig_df

    n_hashes = 4
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(n_hashes)]
        for r in _minhash_sig_df(df, "doc_id", "text", n_hashes, 2).collect()
    }
    for i, toks in enumerate(docs):
        grams = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        if not grams:
            assert i not in got  # gram-less docs emit no signature
            continue
        expect = [
            min(hashlib.md5(f"{g}#{s}".encode()).hexdigest() for g in grams)
            for s in range(n_hashes)
        ]
        assert got[i] == expect, f"doc {i}"


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_simhash_matches_python_model(spark, docs):
    """The conditional-SUM bit-vote form must equal the naive python
    SimHash over distinct tokens (md5-based 60-bit token hash)."""
    import hashlib

    from de_polars_spark.operators.dedup import simhash_groups

    bits = 16
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_groups(df, "doc_id", "text", bits).collect()}
    for i, toks in enumerate(docs):
        votes = [0] * bits
        for tok in set(toks):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for j in range(bits):
                votes[j] += 1 if (h >> j) & 1 else -1
        expect = sum(2**j for j in range(bits) if votes[j] > 0)
        assert got[i] == expect, f"doc {i}"


# ---- round-4 additions: fuzzy / semdedup / weighted sampling ---------- #

_name = st.text(alphabet="ab", min_size=0, max_size=4)
_fuzzy_row = st.tuples(st.integers(0, 1), _name)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(rows=st.lists(_fuzzy_row, min_size=1, max_size=10), k=st.integers(1, 3))
@settings(**_SETTINGS)
def test_edit_distance_pairs_matches_model(spark, rows, k):
    """The blocked + name-collapsed + length-banded plan must equal the
    naive all-pairs model — proving the length-band prune lossless
    (|len(a)-len(b)| <= levenshtein(a,b) always) and the identical-name
    collapse exact."""
    from de_polars_spark.operators.fuzzy import edit_distance_pairs

    data = [(i, blk, nm) for i, (blk, nm) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, blk int, name string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_a"], r["n_b"], r["n_pairs"], r["distance"])
        for r in edit_distance_pairs(df, "rid", "name", "blk", k).collect()
    }
    # model: group by (block, lowered name), min-id rep, then all pairs
    groups: dict = {}
    for i, blk, nm in data:
        g = groups.setdefault((blk, nm.lower()), [])
        g.append(i)
    reps = [
        (blk, nm, min(ids), len(ids)) for (blk, nm), ids in groups.items()
    ]
    expect = {}
    for ai in range(len(reps)):
        for bi in range(len(reps)):
            (ba, na, ga, ca), (bb, nb, gb, cb) = reps[ai], reps[bi]
            if ba == bb and ga < gb:
                d = _lev(na, nb)
                if 1 <= d <= k:
                    expect[(ga, gb)] = (ca, cb, ca * cb, d)
    assert got == expect


_vec = st.tuples(st.integers(-2, 2), st.integers(-2, 2)).filter(
    lambda v: v != (0, 0)
)


@given(
    vecs=st.lists(_vec, min_size=1, max_size=8),
    threshold=st.sampled_from([0.5, 0.8, 0.95]),
)
@settings(**_SETTINGS)
def test_semantic_dedup_matches_model(spark, vecs, threshold):
    """Cluster-bucketed greedy prune vs the naive in-cluster all-pairs
    model (assignment: squared-euclidean argmin, ties to lower cid;
    cosine rounded half-up at 6 decimals before thresholding)."""
    from decimal import ROUND_HALF_UP, Decimal

    from de_polars_spark.operators.semdedup import semantic_dedup_summary

    seeds = [[1.0, 0.0], [0.0, 1.0]]
    data = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(vecs)]
    df = spark.createDataFrame(data, "vid long, vec array<double>")
    got = {
        r["cid"]: (r["n_members"], r["n_dup_pairs"], r["n_dropped"], r["dropped_id_sum"])
        for r in semantic_dedup_summary(df, "vid", "vec", seeds, threshold).collect()
    }

    def assign(v):
        ds = [sum((a - b) * (a - b) for a, b in zip(v, s)) for s in seeds]
        return ds.index(min(ds))

    def cos6(u, v):
        import math

        c = sum(a * b for a, b in zip(u, v)) / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )
        return float(Decimal(c).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    by_cid: dict = {}
    for i, v in data:
        by_cid.setdefault(assign(v), []).append((i, v))
    expect = {}
    for cid, members in by_cid.items():
        pairs = [
            (ia, ib)
            for ia, va in members
            for ib, vb in members
            if ia < ib and cos6(va, vb) >= threshold
        ]
        dropped = {ib for _, ib in pairs}
        expect[cid] = (len(members), len(pairs), len(dropped), sum(dropped))
    assert got == expect


@given(
    rows=st.lists(st.integers(1, 4), min_size=1, max_size=10),
    k=st.integers(1, 5),
    salt=st.sampled_from(["", "s1"]),
)
@settings(**_SETTINGS)
def test_weighted_sample_topk_matches_model(spark, rows, k, salt):
    """Two-phase A-ES top-k vs the exact python model: u from md5, key
    = round(u^(1/w), 12), rank by (key desc, id asc). Proves the
    bucketed local top-k + final rank lossless and the ranking
    engine-reproducible."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from de_polars_spark.operators.sampling import weighted_sample_topk

    data = [(i, float(w)) for i, w in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, w double")
    got = [
        (r["rid"], r["sample_rank"])
        for r in weighted_sample_topk(df, "rid", F.col("w"), k, salt)
        .orderBy("sample_rank")
        .collect()
    ]

    def key(i, w):
        u = int(hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:8], 16) / 2**32
        return float(Decimal(u ** (1.0 / w)).quantize(Decimal("1e-12"), ROUND_HALF_UP))

    ranked = sorted(((key(i, w), i) for i, w in data), key=lambda t: (-t[0], t[1]))
    expect = [(i, r + 1) for r, (_, i) in enumerate(ranked[:k])]
    assert got == expect


@given(
    rows=st.lists(st.tuples(st.integers(0, 2), st.integers(1, 4)), min_size=1, max_size=10),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_weighted_sample_per_group_matches_model(spark, rows, k):
    """Per-group A-ES vs the python model: rank by (key desc, id asc)
    WITHIN each group."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from de_polars_spark.operators.sampling import weighted_sample_per_group

    data = [(i, g, float(w)) for i, (g, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, grp int, w double")
    got = {
        (r["grp"], r["rid"]): r["sample_rank"]
        for r in weighted_sample_per_group(df, "grp", "rid", F.col("w"), k).collect()
    }

    def key(i, w):
        u = int(hashlib.md5(f"{i}".encode()).hexdigest()[:8], 16) / 2**32
        return float(Decimal(u ** (1.0 / w)).quantize(Decimal("1e-12"), ROUND_HALF_UP))

    expect = {}
    by_g: dict = {}
    for i, g, w in data:
        by_g.setdefault(g, []).append((key(i, w), i))
    for g, members in by_g.items():
        for r, (_, i) in enumerate(sorted(members, key=lambda t: (-t[0], t[1]))[:k]):
            expect[(g, i)] = r + 1
    assert got == expect


@given(
    dim_keys=st.sets(st.integers(0, 30), max_size=8),
    probe_keys=st.lists(st.integers(0, 30), min_size=1, max_size=15),
    m=st.sampled_from([64, 256]),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_bloom_matches_model(spark, dim_keys, probe_keys, m, k):
    """bloom_bits + bloom_flag vs the python model: identical md5-derived
    bit set, identical flags (so false positives match too — the filter
    is engine-reproducible, not just false-negative-free)."""
    import hashlib

    from de_polars_spark.operators import bloom

    dim = spark.createDataFrame([(x,) for x in dim_keys] or [(999,)], ["key"])
    model_keys = dim_keys or {999}
    probe = spark.createDataFrame(
        [(i, x) for i, x in enumerate(probe_keys)], ["rid", "key"]
    )

    def pos(key, i):
        return int(hashlib.md5(f"{key}#b{i}".encode()).hexdigest()[:15], 16) % m

    bits = {pos(x, i) for x in model_keys for i in range(k)}
    got_bits = {r["pos"] for r in bloom.bloom_bits(dim, "key", m=m, k=k).collect()}
    assert got_bits == bits
    flagged = bloom.bloom_flag(probe, "key", bloom.bloom_bits(dim, "key", m=m, k=k), m=m, k=k)
    got = {r["rid"]: r["bloom_hit"] for r in flagged.collect()}
    for i, x in enumerate(probe_keys):
        assert got[i] == all(pos(x, j) in bits for j in range(k)), (i, x)


@given(
    events=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 5), st.sampled_from("ab")),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_scd2_islands_match_model(spark, events):
    """The rn-difference islands build vs a python run-length scan —
    including equal-timestamp ties (broken by event_id in both)."""
    rows = [
        (eid, u, t * 1_000_000, et) for eid, (u, t, et) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, tus long, event_type string"
    ).selectExpr("event_id", "user_id", "timestamp_micros(tus) AS ts", "event_type")
    # a uniquely-named view so the shared session's registered `events`
    # testdata view is never shadowed for later tests
    df.createOrReplaceTempView("scd2_prop_events")
    import de_polars_spark.inventory.relational_ext as rx

    sql = rx.render(rx._SCD2_SQL, "spark").replace(
        "FROM events", "FROM scd2_prop_events"
    )
    got = {
        (r["user_id"], r["version"]): (
            r["event_type"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
            r["n_events"],
        )
        for r in spark.sql(sql).collect()
    }
    # model: per user, order by (ts, event_id), run-length encode
    from collections import defaultdict

    by_u = defaultdict(list)
    for eid, (u, t, et) in enumerate(events):
        by_u[u].append((t, eid, et))
    expect = {}
    for u, evs in by_u.items():
        runs = []
        for t, eid, et in sorted(evs):
            if runs and runs[-1][0] == et:
                runs[-1][2] += 1
            else:
                runs.append([et, t, 1])
        for v, (et, start, n) in enumerate(runs, 1):
            nxt = runs[v][1] if v < len(runs) else None
            expect[(u, v)] = (et, start, nxt, 1 if nxt is None else 0, n)
    assert len(got) == len(expect)
    for key, (et, start, nxt, cur, n) in expect.items():
        g_et, g_from, g_to, g_cur, g_n = got[key]
        assert (g_et, g_cur, g_n) == (et, cur, n), key
        assert int(g_from.timestamp()) == start, key
        assert (g_to is None) == (nxt is None), key
        if nxt is not None:
            assert int(g_to.timestamp()) == nxt, key


@given(
    batch0=st.lists(st.lists(st.sampled_from("abc"), max_size=3), min_size=1, max_size=5),
    batch1=st.lists(st.lists(st.sampled_from("abc"), max_size=3), min_size=1, max_size=5),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_neardup_admission_matches_model(spark, batch0, batch1):
    """The streaming MinHash-LSH admission sink vs a python model of its
    documented semantics: reject on any band-key collision with admitted
    history or with a lower-id batchmate; token-less docs always admit."""
    import hashlib
    import shutil
    import tempfile

    from de_polars_spark.streaming.neardup_ingest import neardup_ingest_sink

    n_hashes, band_size = 4, 2

    def bands_of(toks):
        grams = set(toks)
        if not grams:
            return set()
        mh = [
            min(hashlib.md5(f"{g}#{i}".encode()).hexdigest() for g in grams)
            for i in range(n_hashes)
        ]
        return {
            (b, hashlib.md5((mh[2 * b] + mh[2 * b + 1]).encode()).hexdigest())
            for b in range(n_hashes // band_size)
        }

    docs0 = [(i, " ".join(toks)) for i, toks in enumerate(batch0)]
    docs1 = [(100 + i, " ".join(toks)) for i, toks in enumerate(batch1)]

    # python model
    state: set = set()
    expect: set = set()
    for batch in (docs0, docs1):
        batch_admitted = []
        for did, text in batch:  # ids ascending within each batch
            bk = bands_of(text.split())
            hist_hit = bool(bk & state)
            lower_hit = any(
                bk & bands_of(t.split()) for d, t in batch if d < did
            )
            if not (hist_hit or lower_hit):
                batch_admitted.append((did, bk))
        for did, bk in batch_admitted:
            expect.add(did)
            state |= bk

    d = tempfile.mkdtemp()
    try:
        sink = neardup_ingest_sink(
            "doc_id", "text", f"{d}/state", f"{d}/out",
            n_hashes=n_hashes, band_size=band_size, shingle_n=1,
        )
        sink(spark.createDataFrame(docs0, "doc_id long, text string"), 0)
        sink(spark.createDataFrame(docs1, "doc_id long, text string"), 1)
        got = {r.doc_id for r in spark.read.parquet(f"{d}/out").collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expect, (batch0, batch1)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_z_interleave_matches_python_model(spark, pairs):
    """The generated SHIFTL/SHIFTR/BITAND interleave expression
    (inventory/scale_ops._z_interleave, rendered for Spark) must equal
    the reference Morton encoding: pk bits on even positions, sk bits
    on odd positions."""
    from de_polars_spark.inventory.dialect_macros import render
    from de_polars_spark.inventory.scale_ops import _z_interleave

    def morton(pk: int, sk: int) -> int:
        z = 0
        for i in range(16):
            z |= ((pk >> i) & 1) << (2 * i)
            z |= ((sk >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "pk int, sk int")
    expr = render(_z_interleave("pk", "sk"), "spark")
    got = [
        (r.pk, r.sk, r.z)
        for r in df.selectExpr("pk", "sk", f"({expr}) AS z").collect()
    ]
    for pk, sk, z in got:
        assert z == morton(pk, sk), (pk, sk, z)


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 7), st.integers(0, 7),
            st.integers(0, 7), st.integers(0, 7),
        ),
        min_size=2,
        max_size=8,
    ),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_pq_matches_python_model(spark, vecs, k):
    """fit_pq + pq_encode + pq_adc_topk vs a plain-Python PQ model:
    same seed rule, same decimal-quantized centroid means, same
    argmin tie rule (lower code), same ROUND-6-then-decimal-sum ADC —
    so every value, not just the ranking, must agree exactly."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from de_polars_spark.operators.pq import fit_pq, pq_adc_topk, pq_encode

    m, dsub, ksub, iters = 2, 2, 2, 1
    data = [
        (i, [x / 4.0, y / 4.0, z / 4.0, w / 4.0])
        for i, (x, y, z, w) in enumerate(vecs)
    ]
    seeds_full = [v for _, v in data[:ksub]]
    df = spark.createDataFrame(data, "vid long, vec array<double>")

    cbs = fit_pq(df, "vid", "vec", seeds_full, m, dsub, iterations=iters)

    # ---- model fit -------------------------------------------------
    def argmin(sub_v, book):
        ds = [sum((a - b) * (a - b) for a, b in zip(sub_v, cw)) for cw in book]
        return ds.index(min(ds))

    model_cbs = [
        [list(s[j * dsub : (j + 1) * dsub]) for s in seeds_full] for j in range(m)
    ]
    for _ in range(iters):
        sums: dict = {}
        for _i, v in data:
            for j in range(m):
                sub = v[j * dsub : (j + 1) * dsub]
                c = argmin(sub, model_cbs[j])
                for i, val in enumerate(sub):
                    key = (j, c, i)
                    tot, n = sums.get(key, (Decimal(0), 0))
                    sums[key] = (
                        tot + Decimal(val).quantize(Decimal("1e-6"), ROUND_HALF_UP),
                        n + 1,
                    )
        nxt = [[cw[:] for cw in cb] for cb in model_cbs]
        for (j, c, i), (tot, n) in sums.items():
            nxt[j][c][i] = float(tot) / n
        model_cbs = nxt
    assert cbs == model_cbs

    # ---- model encode ----------------------------------------------
    codes = {
        r["vid"]: [r[f"code_{j}"] for j in range(m)]
        for r in pq_encode(df, "vid", "vec", cbs).collect()
    }
    model_codes = {
        i: [argmin(v[j * dsub : (j + 1) * dsub], model_cbs[j]) for j in range(m)]
        for i, v in data
    }
    assert codes == model_codes

    # ---- model ADC top-k -------------------------------------------
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_adc_topk(
            pq_encode(df, "vid", "vec", cbs), df, "vid", "vec", cbs, k=k
        ).collect()
    }
    expect = {}
    for qi, qv in data:
        scored = []
        for ni, _nv in data:
            if ni == qi:
                continue
            adist = Decimal(0)
            for j in range(m):
                d = sum(
                    (a - b) * (a - b)
                    for a, b in zip(
                        qv[j * dsub : (j + 1) * dsub],
                        model_cbs[j][model_codes[ni][j]],
                    )
                )
                adist += Decimal(d).quantize(Decimal("1e-6"), ROUND_HALF_UP)
            scored.append((adist, ni))
        scored.sort()
        # output edge: the exact decimal sum is cast to double — float()
        # of the Decimal rounds the same rational to the same double
        for rank, (adist, ni) in enumerate(scored[:k], start=1):
            expect[(qi, rank)] = (ni, float(adist))
    assert got == expect


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 7), st.integers(0, 7),
            st.integers(0, 7), st.integers(0, 7),
        ),
        min_size=3,
        max_size=8,
    ),
    nprobe=st.integers(1, 2),
)
@settings(**_SETTINGS)
def test_ivfpq_probe_invariants(spark, vecs, nprobe):
    """IVF-PQ vs the un-pruned ADC ranking: with nprobe == nlist the
    probe prunes nothing, so the top-k must EQUAL pq_adc_topk's exactly;
    with nprobe < nlist every returned pair must still carry the same
    ADC distance the full ranking assigns (probing changes candidate
    visibility, never scores)."""
    from de_polars_spark.operators.pq import (
        fit_pq, ivfpq_index, ivfpq_topk, pq_adc_topk, pq_encode,
    )

    m, dsub, ksub, k = 2, 2, 2, 3
    data = [
        (i, [x / 4.0, y / 4.0, z / 4.0, w / 4.0])
        for i, (x, y, z, w) in enumerate(vecs)
    ]
    df = spark.createDataFrame(data, "vid long, vec array<double>")
    seeds_full = [v for _, v in data[:ksub]]
    cbs = fit_pq(df, "vid", "vec", seeds_full, m, dsub, iterations=1)
    # two coarse cells seeded from the first rows; all-zero vectors are
    # possible in the generated data, so nudge centroids off the origin
    # to keep the cosine defined (NaN cells would be a data bug, not a
    # probe bug)
    cents = [
        (0, [a + 0.125 for a in data[0][1]]),
        (1, [a + 0.25 for a in data[-1][1]]),
    ]
    nonzero = [r for r in data if any(x != 0.0 for x in r[1])]
    if not nonzero:
        return
    vdf = spark.createDataFrame(nonzero, "vid long, vec array<double>")

    index = ivfpq_index(vdf, "vid", "vec", cents, cbs)
    full = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_adc_topk(
            pq_encode(vdf, "vid", "vec", cbs), vdf, "vid", "vec", cbs, k=k
        ).collect()
    }
    probed = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in ivfpq_topk(
            index, vdf, "vid", "vec", cents, cbs, k=k, nprobe=nprobe
        ).collect()
    }
    if nprobe >= len(cents):
        assert probed == full
    else:
        # scores must agree pairwise with the full ADC ranking
        all_adc = {
            (r["query_id"], r["neighbor_id"]): r["adist"]
            for r in pq_adc_topk(
                pq_encode(vdf, "vid", "vec", cbs), vdf, "vid", "vec", cbs,
                k=10**6,
            ).collect()
        }
        for (q, _rk), (n, d) in probed.items():
            assert all_adc[(q, n)] == d


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "ab", "ba"]), max_size=8),
        min_size=1,
        max_size=6,
    ),
    rounds=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_bpe_phrase_merges_match_python_model(spark, docs, rounds):
    """The in-plan k-round merge chain vs a naive Python BPE model:
    same global argmax tiebreak (count DESC, left ASC, right ASC) and
    the same greedy left-to-right non-overlapping re-segmentation.
    The alphabet {a, b, ab, ba} is chosen so merged symbols collide
    with existing tokens ('a'+'b' == 'ab') — the delimiter encoding
    must keep them apart by position, not by spelling."""
    from collections import Counter

    from de_polars_spark.inventory.llm_ops import _SY0, _SY1

    data = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, text string")

    # Spark chain — inlined mirror of q_bpe_phrase_merges over this df
    from de_polars_spark.functions import text as TX

    seg = df.select(
        "doc_id",
        F.when(F.size(TX.tokens(F.col("text"))) == 0, F.lit("")).otherwise(
            F.concat(
                F.lit(_SY0),
                F.array_join(TX.tokens(F.col("text")), _SY1 + _SY0),
                F.lit(_SY1),
            )
        ).alias("seg"),
    )
    got = []
    for _r in range(rounds):
        arr = seg.where(F.col("seg") != "").select(
            F.split(
                F.substring(F.col("seg"), 2, F.length("seg") - 2),
                _SY1 + _SY0,
            ).alias("a")
        )
        n1 = F.greatest(F.size("a") - 1, F.lit(0))
        pairs = arr.select(
            F.explode(
                F.arrays_zip(F.slice("a", 1, n1), F.slice("a", 2, n1))
            ).alias("z")
        ).select(F.col("z.0").alias("l"), F.col("z.1").alias("r"))
        rows = (
            pairs.groupBy("l", "r")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        got.append((rows[0]["l"], rows[0]["r"], rows[0]["c"]) if rows else None)
        if not rows:
            continue
        bl, br = rows[0]["l"], rows[0]["r"]
        seg = seg.select(
            "doc_id",
            F.replace(
                F.col("seg"),
                F.lit(_SY0 + bl + _SY1 + _SY0 + br + _SY1),
                F.lit(_SY0 + bl + br + _SY1),
            ).alias("seg"),
        )

    # Python model
    model_docs = [list(toks) for toks in docs]
    expect = []
    for _r in range(rounds):
        counts = Counter()
        for d in model_docs:
            for x, y in zip(d, d[1:]):
                counts[(x, y)] += 1
        if not counts:
            expect.append(None)
            continue
        (bl, br), bc = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((bl, br, bc))
        nxt = []
        for d in model_docs:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == bl and d[i + 1] == br:
                    out.append(bl + br)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            nxt.append(out)
        model_docs = nxt
    assert got == expect


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.lists(st.sampled_from(["x", "y", "zz", "w q"]), max_size=6),
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_dsir_scoring_matches_python_model(spark, docs):
    """The DSIR importance chain (md5 feature hashing, Laplace-smoothed
    per-bucket log-ratios quantized to DECIMAL(18,6), per-doc decimal
    sum, double at the edge) vs a plain-Python model. 'w q' in the
    alphabet makes some docs contribute two tokens from one entry, and
    the tiny bucket count forces hash collisions the model must share."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import de_polars_spark.inventory.llm_ops as L
    from de_polars_spark.functions import text as TX

    B, TARGET = 8, ("s0",)
    data = [
        (i, src_, " ".join(toks)) for i, (src_, toks) in enumerate(docs)
    ]
    df = spark.createDataFrame(data, "doc_id long, source string, text string")

    # Spark chain — the q_dsir body with its table swapped for df
    tb = df.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).select("doc_id", "source", (TX.hash60(F.col("tok")) % B).alias("b"))
    pd_ = tb.groupBy("doc_id", "source", "b").agg(F.count("*").alias("n_b"))
    raw = pd_.groupBy("b").agg(F.sum("n_b").alias("cr"))
    tgt = (
        pd_.where(F.col("source").isin(*TARGET))
        .groupBy("b").agg(F.sum("n_b").alias("ct"))
    )
    tot = pd_.agg(
        F.sum("n_b").alias("nr"),
        F.sum(
            F.when(F.col("source").isin(*TARGET), F.col("n_b")).otherwise(0)
        ).alias("nt"),
    )
    sc = (
        raw.join(tgt, "b", "left").fillna(0, ["ct"]).crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.col("ct") + F.lit(1)).cast("double") / (F.col("nt") + F.lit(B)))
                - F.log((F.col("cr") + F.lit(1)).cast("double") / (F.col("nr") + F.lit(B)))
            ).cast("decimal(18,6)").alias("s"),
        )
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["importance"])
        for r in pd_.join(F.broadcast(sc), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n_b").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("s") * F.col("n_b").cast("decimal(10,0)")).cast("double"),
                6,
            ).alias("importance"),
        )
        .collect()
    }

    # Python model
    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    occ = []  # (doc, source, bucket)
    for i, src_, text in data:
        for tok in text.split(" "):
            if tok:
                occ.append((i, src_, h(tok)))
    nr, nt = len(occ), sum(1 for _, s, _ in occ if s in TARGET)
    cr: dict = {}
    ct: dict = {}
    for _, s, b in occ:
        cr[b] = cr.get(b, 0) + 1
        if s in TARGET:
            ct[b] = ct.get(b, 0) + 1
    score = {
        b: Decimal(
            math.log((ct.get(b, 0) + 1) / (nt + B))
            - math.log((cr[b] + 1) / (nr + B))
        ).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        for b in cr
    }
    expect = {}
    for i, _src, _text in data:
        buckets = [b for (d, _, b) in occ if d == i]
        if not buckets:
            continue  # docs with no tokens have no (doc, bucket) rows
        per: dict = {}
        for b in buckets:
            per[b] = per.get(b, 0) + 1
        imp = sum(score[b] * n for b, n in per.items())
        # F.round(double, 6) goes through BigDecimal.valueOf, i.e. the
        # SHORTEST double repr (same as Python repr), then HALF_UP
        expect[i] = (
            len(buckets),
            float(Decimal(repr(float(imp))).quantize(Decimal("1e-6"), ROUND_HALF_UP)),
        )
    assert got == expect


# ---- round-4 additions: containment / hard negatives ------------------ #

_doc = st.lists(st.sampled_from("abc"), min_size=0, max_size=6)


@given(
    docs=st.lists(st.tuples(st.integers(0, 1), _doc), min_size=1, max_size=8),
    n=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_containment_pairs_matches_model(spark, docs, n):
    """The posting-join plan must equal the naive per-pair set model —
    including the smaller-side orientation and the equal-size id
    tiebreak (threshold 0 so every co-occurring pair surfaces)."""
    from de_polars_spark.operators.dedup import containment_pairs, release_cached

    data = [(i, blk, " ".join(toks)) for i, (blk, toks) in enumerate(docs)]
    df = spark.createDataFrame(data, "rid long, blk int, text string")
    got = {
        (r["id_small"], r["id_large"]): (
            r["n_common"],
            r["n_small"],
            r["n_large"],
        )
        for r in containment_pairs(
            df, "rid", "text", "blk", threshold=0.0, shingle_n=n
        ).collect()
    }
    release_cached()

    def shingles(toks):
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    expect = {}
    for i, (bi, ti) in enumerate(docs):
        for j, (bj, tj) in enumerate(docs):
            if not (i < j and bi == bj):
                continue
            sa, sb = shingles(ti), shingles(tj)
            common = len(sa & sb)
            if not common:
                continue
            if (len(sa), i) <= (len(sb), j):
                small, large, ns, nl = i, j, len(sa), len(sb)
            else:
                small, large, ns, nl = j, i, len(sb), len(sa)
            expect[(small, large)] = (common, min(len(sa), len(sb)),
                                      max(len(sa), len(sb)))
    assert got == expect


_vec = st.lists(
    st.integers(-3, 3).map(float), min_size=2, max_size=2
)


@given(
    rows=st.lists(st.tuples(st.integers(0, 2), _vec), min_size=2, max_size=8),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_hard_negative_topk_matches_model(spark, rows, k):
    """Broadcast brute-force mining must equal the naive model: per
    anchor, every different-label vector ranked by (cosine desc, id)."""
    from de_polars_spark.operators.similarity import hard_negative_topk

    data = [
        (i, lab, v) for i, (lab, v) in enumerate(rows)
        if any(x != 0.0 for x in v)  # zero vectors have no cosine
    ]
    if len(data) < 2 or len({lab for _, lab, _ in data}) < 2:
        return
    df = spark.createDataFrame(data, "rid long, lab int, v array<double>")
    anchors = df.filter(F.col("rid") % 2 == 0)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in hard_negative_topk(df, anchors, "rid", "v", "lab", k).collect()
    }
    import math

    expect = {}
    for qi, qlab, qv in data:
        if qi % 2 != 0:
            continue
        cands = []
        for ni, nlab, nv in data:
            if nlab == qlab:
                continue
            dot = sum(a * b for a, b in zip(qv, nv))
            cos = dot / (
                math.sqrt(sum(a * a for a in qv)) * math.sqrt(sum(b * b for b in nv))
            )
            cands.append((-round(cos, 6), ni))
        for rank, (negcos, ni) in enumerate(sorted(cands)[:k], 1):
            expect[(qi, rank)] = (ni, -negcos)
    assert set(got) == set(expect)
    for key, (ni, cos) in expect.items():
        gni, gcos = got[key]
        assert gni == ni and abs(gcos - cos) < 1e-9, (key, got[key], (ni, cos))


@given(
    rows=st.lists(st.tuples(st.integers(0, 1), _vec), min_size=2, max_size=8),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_margin_mutual_pairs_matches_model(spark, rows, k):
    """The two-window single-relation plan must equal the naive model:
    mutual top-1 across sides, margin = cos / mean of both k-NN
    neighborhood averages, ties on neighbor id."""
    from de_polars_spark.operators.similarity import (
        margin_mutual_pairs,
        release_cached,
    )

    data = [
        (i, lab, v) for i, (lab, v) in enumerate(rows)
        if any(x != 0.0 for x in v)
    ]
    na = sum(1 for _, lab, _ in data if lab == 0)
    nb = sum(1 for _, lab, _ in data if lab == 1)
    if na < k or nb < k:  # avg over fewer than k neighbors is undefined
        return
    df = spark.createDataFrame(data, "rid long, lab int, v array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["margin"]
        for r in margin_mutual_pairs(df, "rid", "v", "lab", 0, 1, k).collect()
    }
    release_cached()

    import math

    def cos(u, w):
        return round(
            sum(a * b for a, b in zip(u, w))
            / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in w))),
            6,
        )

    A = [(i, v) for i, lab, v in data if lab == 0]
    B = [(i, v) for i, lab, v in data if lab == 1]
    ranked_a = {
        ia: sorted(((-cos(va, vb), ib) for ib, vb in B))
        for ia, va in A
    }
    ranked_b = {
        ib: sorted(((-cos(va, vb), ia) for ia, va in A))
        for ib, vb in B
    }
    expect = {}
    for ia, va in A:
        negc, ib = ranked_a[ia][0]
        if ranked_b[ib][0][1] != ia:
            continue
        avg_a = sum(-c for c, _ in ranked_a[ia][:k]) / float(k)
        avg_b = sum(-c for c, _ in ranked_b[ib][:k]) / float(k)
        if (avg_a + avg_b) / 2 == 0.0:
            continue  # zero-neighborhood margin is NULL -> dropped
        margin = -negc / ((avg_a + avg_b) / 2)
        if margin > 1.0:
            expect[(ia, ib)] = round(margin, 6)
    assert set(got) == set(expect)
    for key in expect:
        assert abs(got[key] - expect[key]) < 1e-6, (key, got[key], expect[key])


_vec8 = st.lists(st.integers(-40, 40).map(lambda x: x / 8.0), min_size=3, max_size=3)


@given(vecs=st.lists(_vec8, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_int8_quantization_profile_matches_model(spark, vecs):
    """Per-dim params and exact reconstruction error vs a plain model —
    pins the floor(x+0.5) code rule, the clamp, and the degenerate
    zero-range scale=1.0 branch."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from de_polars_spark.operators.vectors import int8_quantization_profile

    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    got = {
        r["dim"]: (r["vmin"], r["vmax"], r["scale"], r["mse"], r["max_abs_err"])
        for r in int8_quantization_profile(df, "v").collect()
    }

    def q(x, places):
        return float(Decimal(repr(float(x))).quantize(
            Decimal(f"1e-{places}"), ROUND_HALF_UP))

    expect = {}
    for d in range(3):
        vals = [v[d] for v in vecs]
        vmin, vmax = min(vals), max(vals)
        scale = (vmax - vmin) / 255.0 if vmax > vmin else 1.0
        errs = []
        sq = Decimal(0)
        for x in vals:
            code = min(255.0, max(0.0, math.floor((x - vmin) / scale + 0.5)))
            err = vmin + code * scale - x
            errs.append(abs(err))
            sq += Decimal(repr(err * err)).quantize(
                Decimal("1e-12"), ROUND_HALF_UP)
        expect[d] = (
            q(vmin, 6), q(vmax, 6), q(scale, 6),
            q(float(sq) / len(vals), 9), q(max(errs), 6),
        )
    assert set(got) == set(expect)
    for d in expect:
        for g, e in zip(got[d], expect[d]):
            assert abs(g - e) < 1e-9, (d, got[d], expect[d])


@given(
    ts_offsets=st.lists(st.integers(-300, 300), min_size=1, max_size=12),
    bsz=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_late_arrival_audit_matches_model(spark, ts_offsets, bsz):
    """The batch twin vs a plain replay model of the watermark rule:
    basis = max ts over PRIOR batches, drop iff hour-window end <=
    basis - 1h."""
    from datetime import datetime, timedelta

    from de_polars_spark.streaming.late_audit import late_arrival_audit

    base = datetime(2025, 6, 1, 12, 0)
    rows = [
        (i, base + timedelta(minutes=off)) for i, off in enumerate(ts_offsets)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {
        r["batch_id"]: (r["n_rows"], r["n_late_dropped"])
        for r in late_arrival_audit(df, "event_id", "ts", bsz).collect()
    }
    expect = {}
    seen_max = None
    batches: dict = {}
    for i, ts in rows:
        batches.setdefault(i // bsz, []).append(ts)
    for b in sorted(batches):
        wm = seen_max - timedelta(hours=1) if seen_max is not None else None
        dropped = 0
        for ts in batches[b]:
            wend = ts.replace(minute=0, second=0, microsecond=0) + timedelta(
                hours=1
            )
            if wm is not None and wend <= wm:
                dropped += 1
        expect[b] = (len(batches[b]), dropped)
        mx = max(batches[b])
        seen_max = mx if seen_max is None else max(seen_max, mx)
    assert got == expect


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 1), st.lists(st.sampled_from("ab"), min_size=0, max_size=8)),
        min_size=1, max_size=6,
    ),
    n=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_longest_shared_span_matches_model(spark, docs, n):
    """The diagonal gaps-and-islands plan must equal a naive quadratic
    scan for the longest exactly-shared token run per pair."""
    from de_polars_spark.operators.dedup import (
        longest_shared_span,
        release_cached,
    )

    data = [(i, blk, " ".join(toks)) for i, (blk, toks) in enumerate(docs)]
    df = spark.createDataFrame(data, "rid long, blk int, text string")
    got = {
        (r["id_a"], r["id_b"]): (
            r["n_shared_positions"],
            r["longest_span_tokens"],
        )
        for r in longest_shared_span(df, "rid", "text", "blk", n).collect()
    }
    release_cached()

    expect = {}
    for i, (bi, ti) in enumerate(docs):
        for j, (bj, tj) in enumerate(docs):
            if not (i < j and bi == bj):
                continue
            hits = [
                (pa, pa - pb)
                for pa in range(len(ti) - n + 1)
                for pb in range(len(tj) - n + 1)
                if ti[pa : pa + n] == tj[pb : pb + n]
            ]
            if not hits:
                continue
            best = 0
            per_diag: dict = {}
            for pa, d in hits:
                per_diag.setdefault(d, set()).add(pa)
            for pas in per_diag.values():
                # longest consecutive-position streak on this diagonal
                s = sorted(pas)
                cur = longest = 1
                for a, b in zip(s, s[1:]):
                    cur = cur + 1 if b == a + 1 else 1
                    longest = max(longest, cur)
                best = max(best, longest)
            expect[(i, j)] = (len(hits), best + n - 1)
    assert got == expect


# ---------------------------------------------------------------- #
# Binary media parsers: encode->parse roundtrips over the whole     #
# geometry space, no Spark session needed                           #
# ---------------------------------------------------------------- #
@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=64),
    seed=st.integers(min_value=0, max_value=255),
)
@settings(deadline=None, max_examples=60)
def test_bmp_roundtrip_property(w, h, seed):
    from de_polars_spark.operators import multimodal

    b = multimodal.encode_bmp(w, h, seed)
    pw, ph, mode, n = multimodal.parse_bmp(b)
    assert (pw, ph, mode) == (w, h, "RGB")
    assert n == len(b) == 54 + h * ((3 * w + 3) // 4 * 4)


@given(
    n=st.integers(min_value=1, max_value=5000),
    rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    seed=st.integers(min_value=0, max_value=255),
)
@settings(deadline=None, max_examples=60)
def test_wav_roundtrip_property(n, rate, seed):
    from de_polars_spark.operators import multimodal

    b = multimodal.encode_wav(n, rate, seed)
    prate, ch, bits, pn, size = multimodal.parse_wav(b)
    assert (prate, ch, bits, pn) == (rate, 1, 16, n)
    assert size == len(b) == 44 + 2 * n


@given(data=st.binary(min_size=0, max_size=200))
@settings(deadline=None, max_examples=120)
def test_media_parsers_never_crash_on_garbage(data):
    # adversarial/corrupt blobs must raise ValueError (the documented
    # loud failure), never struct.error / IndexError / hangs
    from de_polars_spark.operators import multimodal

    for parser in (multimodal.parse_bmp, multimodal.parse_wav):
        try:
            parser(data)
        except ValueError:
            pass


@given(data=st.binary(min_size=0, max_size=150))
@settings(deadline=None, max_examples=60)
def test_wav_parser_rejects_corrupt_riff_bodies(data):
    # a correct magic with garbage chunks must still fail as ValueError
    from de_polars_spark.operators import multimodal

    blob = b"RIFF" + b"\x00\x00\x00\x00" + b"WAVE" + data
    try:
        multimodal.parse_wav(blob)
    except ValueError:
        pass


@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    nf=st.integers(min_value=0, max_value=8),
    seed=st.integers(min_value=0, max_value=255),
)
@settings(deadline=None, max_examples=60)
def test_y4m_roundtrip_property(w, h, nf, seed):
    from de_polars_spark.operators import multimodal

    b = multimodal.encode_y4m(w, h, nf, seed=seed)
    pw, ph, num, den, offs = multimodal.parse_y4m(b)
    assert (pw, ph, num, den, len(offs)) == (w, h, 4, 1, nf)
    # every frame's Y plane is the documented ramp over REAL bytes
    for fid, off in enumerate(offs):
        assert b[off] == (seed + 13 * fid) % 256
        assert b[off + w * h - 1] == (seed + 13 * fid + w * h - 1) % 256


@given(data=st.binary(min_size=0, max_size=200))
@settings(deadline=None, max_examples=120)
def test_y4m_parser_never_crashes_on_garbage(data):
    from de_polars_spark.operators import multimodal

    for blob in (data, b"YUV4MPEG2 " + data, b"YUV4MPEG2 W4 H3 F4:1 C444\n" + data):
        try:
            multimodal.parse_y4m(blob)
        except ValueError:
            pass


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=255),
)
@settings(deadline=None, max_examples=40)
def test_jpeg_block_solid_roundtrip_property(w, h, seed):
    # baseline JPEG is lossy, but a block-solid image under the all-ones
    # quant table round-trips BIT-EXACTLY (DC-only integral DCT) — the
    # analytic-oracle contract of the fixture, over randomized geometry
    import numpy as np

    from de_polars_spark.operators import multimodal

    b = multimodal.encode_jpeg(w, h, seed)
    assert multimodal.parse_jpeg_header(b) == (w, h, "L", len(b))
    px = multimodal.decode_jpeg_pixels(b)
    want = np.empty((h, w), dtype=np.uint8)
    for y in range(h):
        want[y] = [(seed + 7 * (x // 8) + 13 * (y // 8)) % 256 for x in range(w)]
    assert (px == want).all()


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(deadline=None, max_examples=25)
def test_jpeg_arbitrary_pixels_match_quant_model(w, h, seed):
    # the full AC entropy path on arbitrary pixels: decoder must agree
    # bit-exactly with an independent DCT->round->IDCT quant model that
    # never touches the bitstream code (Huffman/stuffing bugs cannot
    # cancel against it), and stay within 1 of the source
    import math

    import numpy as np

    from de_polars_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    src = rng.integers(0, 256, (h, w), dtype=np.uint8)
    got = multimodal.decode_jpeg_pixels(multimodal.encode_jpeg_gray(src))
    C = np.array(
        [
            [
                (math.sqrt(0.125) if u == 0 else 0.5)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    pad = np.empty((ph, pw))
    pad[:h, :w] = src
    pad[h:, :w] = src[h - 1 : h, :]
    pad[:, w:] = pad[:, w - 1 : w]
    ref = np.empty((ph, pw))
    for by in range(ph // 8):
        for bx in range(pw // 8):
            blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            ref[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                C.T @ np.rint(C @ blk @ C.T) @ C + 128.0
            )
    ref = np.clip(np.rint(ref[:h, :w]), 0, 255).astype(np.uint8)
    assert (got == ref).all()
    assert np.abs(got.astype(int) - src.astype(int)).max() <= 1


@given(data=st.binary(min_size=0, max_size=200))
@settings(deadline=None, max_examples=120)
def test_y4m_parser_never_crashes_on_garbage(data):
    # same treatment as the JPEG/PNG/WAV parsers (r7 verdict hardening):
    # corrupt blobs — raw, valid-magic garbage header, and valid header
    # with garbage frame bytes — must raise ValueError, never
    # struct.error / IndexError / UnicodeDecodeError
    from de_polars_spark.operators import multimodal

    valid = multimodal.encode_y4m(3, 2, 1, seed=5)
    hdr_end = valid.find(b"\n") + 1
    for blob in (
        data,
        b"YUV4MPEG2 " + data,
        valid[:hdr_end] + data,
    ):
        try:
            multimodal.parse_y4m(blob)
        except ValueError:
            pass


@given(data=st.binary(min_size=0, max_size=200))
@settings(deadline=None, max_examples=120)
def test_jpeg_parsers_never_crash_on_garbage(data):
    # corrupt blobs (raw, bad-SOI, and valid-SOI-garbage-body) must
    # raise ValueError, never struct.error / IndexError / KeyError
    from de_polars_spark.operators import multimodal

    for blob in (data, b"\xff\xd8" + data):
        for fn in (multimodal.parse_jpeg_header, multimodal.decode_jpeg_pixels):
            try:
                fn(blob)
            except ValueError:
                pass
