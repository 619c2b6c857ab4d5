"""Quality properties of the driver-contract analytics queries that the
oracle equality check alone can't see: ANN recall vs the brute-force
baseline, and the hot-shingle cap actually bounding the jaccard join."""

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def test_ann_ivf_recall_vs_brute(spark):
    """IVF (k-means, nprobe=2) must recover most of the true top-10 while
    scanning only the probed cells — the recall/efficiency tradeoff that
    makes it the scale path next to cosine_topk."""
    brute = [
        r["vec_id"]
        for r in entry_mod._q_cosine_topk(spark, SF_DIR).collect()
    ]
    ivf = [
        r["vec_id"] for r in entry_mod._q_ann_ivf_topk(spark, SF_DIR).collect()
    ]
    recall = len(set(brute) & set(ivf)) / len(brute)
    assert recall >= 0.7, (recall, brute, ivf)


def test_ann_ivf_scans_fraction(spark):
    """The candidate set (nprobe cells) must be a strict subset of the
    corpus — i.e. the index actually prunes."""
    from pyspark.sql import functions as F

    e = entry_mod._ivf_e(spark, SF_DIR)
    cent_rows = entry_mod._ivf_fit(e)
    sizes = (
        entry_mod._ivf_assign_kernel(e, cent_rows).groupBy("cell").count().collect()
    )
    total = sum(r["count"] for r in sizes)
    probed = sorted((r["count"] for r in sizes), reverse=True)[
        : entry_mod._IVF_NPROBE
    ]
    assert total == 500
    # even the two LARGEST cells leave most of the corpus unscanned
    assert sum(probed) / total < 0.5, sizes


def test_jaccard_hot_shingle_cap(spark, tmp_path):
    """The df cap must drop hot shingles BEFORE the self-join (the d²
    blowup guard) while exact duplicates still score jaccard 1.0.
    Synthetic corpus: one shingle shared by every doc (hot), plus an
    exact-duplicate pair whose remaining shingles are rare."""
    n = entry_mod._JACCARD_MAX_DF + 10
    common = "alpha beta gamma"  # one 3-shingle in all docs → hot
    rows = [
        (i, f"{common} unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(n)
    ]
    # docs n and n+1: exact duplicates of each other
    dup = f"{common} dupw dupx dupy dupz"
    rows += [(n, dup), (n + 1, dup)]
    pdir = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(pdir)

    from pyspark.sql import functions as F

    sh = entry_mod._shingles(spark, str(tmp_path))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .where(F.col("sdf") > entry_mod._JACCARD_MAX_DF)
        .count()
    )
    assert hot > 0
    pairs = entry_mod._q_jaccard_pairs(spark, str(tmp_path)).collect()
    # without the cap the hot shingle alone links every doc pair through
    # the join; with it, only the true duplicate pair survives at >= 0.5
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(n, n + 1)]
    assert abs(pairs[0]["jaccard"] - 1.0) < 1e-9


def test_cent_norm_bit_identical_to_sql_fold(spark):
    """The driver-precomputed centroid norm (_cent_norm, the ‖c‖ the
    assign kernel divides by) must reproduce the SQL HOF fold _ivf_nrm
    BIT-for-bit — same IEEE left-to-right add chain and the same
    correctly-rounded sqrt — on real embedding vectors, so precomputing
    it cannot move a single cosine bit."""
    import math
    import struct

    from pyspark.sql import functions as F

    e = entry_mod._ivf_e(spark, SF_DIR)
    vecs = [list(r["v"]) for r in e.limit(25).collect()]
    assert len(vecs) == 25
    for cv in vecs:
        sql_nrm = spark.range(1).select(
            entry_mod._ivf_nrm(
                F.array(*[F.lit(float(x)) for x in cv])
            ).alias("n")
        ).first()["n"]
        assert struct.pack("<d", entry_mod._cent_norm(cv)) == struct.pack(
            "<d", sql_nrm
        )
        assert math.isfinite(sql_nrm)


def test_cell_pair_cos_kernel_bit_identical_to_hof_fold(spark):
    """The Arrow pair-cosine kernel (_cell_pair_cos) must reproduce the
    SQL HOF fold pipeline it replaced BIT-for-bit on every same-cell
    pair: elementwise multiply then cumsum replays zip_with+aggregate's
    exact IEEE op order (see the kernel docstring). Compares the FULL
    unrounded pair set at sf0.01 (tens of thousands of pairs), not a
    sample."""
    import struct

    from pyspark.sql import functions as F

    em = entry_mod
    e = em._ivf_e(spark, SF_DIR)
    cent_rows = em._ivf_fit_cached(spark, SF_DIR)
    assign = em._ivf_assign2_kernel(e, cent_rows).localCheckpoint()
    a = assign.select(
        F.col("cell"), F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = assign.select(
        F.col("cell"), F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    cos = em._ivf_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    hof = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in (
            a.join(b, "cell")
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", cos.alias("cos"))
            .dropDuplicates(["vec_a", "vec_b"])
            .collect()
        )
    }
    kern = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in (
            assign.select("cell", "vec_id", "v", "nrm")
            .groupBy("cell")
            .applyInPandas(
                em._cell_pair_cos, schema="vec_a long, vec_b long, cos double"
            )
            .dropDuplicates(["vec_a", "vec_b"])
            .collect()
        )
    }
    assert set(hof) == set(kern)
    assert len(hof) > 1000
    mismatches = [
        k
        for k in hof
        if struct.pack("<d", hof[k]) != struct.pack("<d", kern[k])
    ]
    assert mismatches == []


def _fold_assign(vecs, cent_rows, nprobe):
    """Sequential reference for the assign kernel: cids visited in
    ascending order, a cell enters rank r only on a STRICT cosine
    improvement over the current rank-r holder (which is demoted), and
    cosine = dot / (‖v‖·‖c‖) with every dot a left-to-right add chain
    from 0.0. Returns ({(vec_id, rank): cell}, {vec_id: ‖v‖})."""
    import math

    def dot(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc = acc + a * b
        return acc

    cents = [(cid, cv, math.sqrt(dot(cv, cv))) for cid, cv in sorted(cent_rows)]
    cells, nrm = {}, {}
    for vid, v in vecs:
        nv = math.sqrt(dot(v, v))
        best = [(-1, float("-inf"))] * nprobe
        for cid, cv, nc in cents:
            cos = dot(v, cv) / (nv * nc)
            for r in range(nprobe):
                if cos > best[r][1]:
                    best = best[:r] + [(cid, cos)] + best[r:-1]
                    break
        for r, (cid, _) in enumerate(best):
            if cid >= 0:
                cells[(vid, r)] = cid
        nrm[vid] = nv
    return cells, nrm


def test_assign_kernel_bit_identical_to_hof(spark):
    """The Arrow e-step kernel (_assign_kernel) must reproduce the
    sequential cosine fold (_fold_assign — the fold the SQL HOF form
    spelled) EXACTLY on the full sf0.01 corpus with the real fitted
    centroids: same (rank, cell) per vector and bit-identical nrm (the
    nrm feeds _cell_pair_cos divisions, so a single moved bit would
    shift near-dup cosines)."""
    import struct

    em = entry_mod
    e = em._ivf_e(spark, SF_DIR)
    cent_rows = em._ivf_fit_cached(spark, SF_DIR)
    vecs = [(r["vec_id"], list(r["v"])) for r in e.collect()]
    want, want_nrm = _fold_assign(vecs, cent_rows, em._NEARDUP_NPROBE)
    kern_rows = em._ivf_assign2_kernel(e, cent_rows).collect()
    kern = {(r["vec_id"], r["rank"]): r["cell"] for r in kern_rows}
    assert kern == want
    assert len(kern) == 1000  # 500 vectors × 2 probe cells
    nrm_mismatch = [
        r["vec_id"]
        for r in kern_rows
        if struct.pack("<d", r["nrm"])
        != struct.pack("<d", want_nrm[r["vec_id"]])
    ]
    assert nrm_mismatch == []


def test_assign_kernel_noncontiguous_cids_and_large_k(spark):
    """Kernel ≡ fold must also hold off the fitted-centroid happy path:
    K=37 fabricated centroids with NON-CONTIGUOUS cids (3i+1 — Lloyd
    drops empty cells, so production cid gaps are real) exercises the
    cids[argsort] indirection at a K the sf0.01 fit never reaches, for
    both the top-1 and the multi-probe kernel."""
    em = entry_mod
    e = em._ivf_e(spark, SF_DIR)
    vecs = [(r["vec_id"], list(r["v"])) for r in e.collect()]
    cent_rows = [(3 * i + 1, cv) for i, (_, cv) in enumerate(sorted(vecs)[:37])]
    want2, _ = _fold_assign(vecs, cent_rows, 2)
    kern2 = {
        (r["vec_id"], r["rank"]): r["cell"]
        for r in em._ivf_assign2_kernel(e, cent_rows).collect()
    }
    assert kern2 == want2
    want1, _ = _fold_assign(vecs, cent_rows, 1)
    kern1 = {
        (r["vec_id"], r["rank"]): r["cell"]
        for r in em._ivf_assign_kernel(e, cent_rows).collect()
    }
    assert kern1 == want1
    assert len(kern1) == 500


def test_assign2_rank0_equals_top1_assign(spark):
    """ann_ivf_topk scans the rank-0 slice of the cached multi-probe
    assignment instead of re-running the top-1 e-step — valid only if
    the multi-probe kernel's best cell IS the top-1 kernel's cell for
    every vector (same cosines, same ascending-cid strict-improvement
    tie rule)."""
    from pyspark.sql import functions as F

    em = entry_mod
    e = em._ivf_e(spark, SF_DIR)
    cent_rows = em._ivf_fit_cached(spark, SF_DIR)
    top1 = {
        r["vec_id"]: r["cell"]
        for r in em._ivf_assign_kernel(e, cent_rows).select("vec_id", "cell").collect()
    }
    rank0 = {
        r["vec_id"]: r["cell"]
        for r in em._ivf_assign2_kernel(e, cent_rows)
        .where(F.col("rank") == 0)
        .select("vec_id", "cell")
        .collect()
    }
    assert top1 == rank0
    assert len(top1) > 100


def _shingles_reference_rows(rows):
    """The retired per-row pandas generator's semantics, verbatim: the
    pinned reference for the columnar kernel (text.lower().split(' '),
    empties dropped, distinct full 3-grams per doc)."""
    out = set()
    for did, text in rows:
        toks = [w for w in text.lower().split(" ") if w] if text else []
        n = len(toks)
        for i in range(n - 2):
            out.add((did, " ".join(toks[i : i + 3])))
    return out


def test_shingle_columnar_kernel_identical_to_row_reference():
    """Fuzzed equivalence of the Arrow shingle kernel to the per-row
    reference — including the Unicode lowercase traps where
    pc.utf8_lower would diverge from str.lower (Greek final sigma
    context rule, İ→i̇ expansion), multi-space runs, short docs, empty
    and None texts."""
    import random

    import pyarrow as pa

    from searchengine_spark.text.udfs import _shingle_batch_columnar

    rng = random.Random(4105)
    vocab = [
        "alpha", "Beta", "GAMMA", "ΣΟΦΟΣ", "ΑΣ", "İSTANBUL", "straße",
        "Ǆungla", "x", "ΒΑΣΙΣ", "mixedΣcase", "ΣΣΣ",
    ]
    cases = [None, "", " ", "   ", "a b", "one two three",
             "ΣΟΦΟΣ ΑΣ İSTANBUL ΣΟΦΟΣ ΑΣ İSTANBUL"]
    rows = []
    for did in range(400):
        if did < len(cases):
            rows.append((did, cases[did]))
            continue
        n = rng.randrange(0, 12)
        sep_pool = [" ", "  ", "   "]
        text = ""
        for i in range(n):
            if i:
                text += rng.choice(sep_pool)
            text += rng.choice(vocab)
        if rng.random() < 0.2:
            text = " " + text + " "
        rows.append((did, text))
    got_tbl = _shingle_batch_columnar(
        pa.array([r[0] for r in rows], type=pa.int64()),
        pa.array([r[1] for r in rows], type=pa.string()),
    )
    got = set(zip(got_tbl["doc_id"].to_pylist(), got_tbl["shingle"].to_pylist()))
    want = _shingles_reference_rows(rows)
    assert got == want
    # per-doc dedup really happened (no duplicate pairs survive group_by)
    assert len(got_tbl) == len(got)


def test_shingles_of_spark_plan_and_values(spark, tmp_path):
    """_shingles_of must compile to MapInArrow (never BatchEvalPython)
    and agree with the row reference through the full Spark path."""
    rows = [
        (0, "Alpha beta GAMMA alpha beta gamma"),
        (1, "one  two   three four"),
        (2, "too short"),
        (3, None),
        (4, "ΣΟΦΟΣ ΑΣ İSTANBUL ΣΟΦΟΣ"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = entry_mod._shingles_of(df)
    plan = sh._sc._jvm.PythonSQLUtils.explainString(
        sh._jdf.queryExecution(), "extended"
    )
    assert "MapInArrow" in plan and "BatchEvalPython" not in plan
    got = {(r["doc_id"], r["shingle"]) for r in sh.collect()}
    assert got == _shingles_reference_rows(rows)


def test_doc_fingerprint_mapside_identical_to_exploded(spark):
    """The map-side HOF doc_fingerprint (array_min/array_max over hashed
    grams + size∘array_distinct) must be bit-identical to the exploded
    groupBy reference form it replaced, and its plan must carry no
    aggregation Exchange — the only shuffle allowed is the final
    orderBy's range partitioning. (The exploded form moved every
    (doc_id, gram) occurrence through a hashpartitioning exchange for
    the countDistinct; ~10× slower at sf0.1.)"""
    from pyspark.sql import functions as F

    live = entry_mod._q_doc_fingerprint(spark, SF_DIR)
    plan = live._sc._jvm.PythonSQLUtils.explainString(
        live._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning" not in plan, plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    grams = F.expr(
        "transform(sequence(1, greatest(char_length(_lt) - 7, 1)),"
        " i -> substring(_lt, i, 8))"
    )
    g = docs.select("doc_id", F.lower("text").alias("_lt")).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    h = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
    ref = (
        g.select("doc_id", h.alias("h"), "gram")
        .groupBy("doc_id")
        .agg(
            F.min("h").alias("fp_min"),
            F.max("h").alias("fp_max"),
            F.countDistinct("gram").alias("n_grams"),
        )
        .orderBy("doc_id")
    )
    a = live.collect()
    b = ref.collect()
    assert len(a) == len(b) > 0
    assert all(ra == rb for ra, rb in zip(a, b)), "value mismatch"


def test_doc_fingerprint_null_and_short_text(spark):
    """The NULL-text branch must match the exploded form's semantics
    (n_grams = 0, fp NULL — array_compact drops the [NULL] gram array
    the transform produces; without it size∘array_distinct counts the
    NULL as one gram) and sub-8-char docs must fingerprint their whole
    text once, same as the exploded form."""
    rows = [(0, None), (1, "tiny"), (2, "exactly8"), (3, "abcdefghi")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["fp_min"], r["fp_max"], r["n_grams"])
        for r in entry_mod._doc_fingerprint_frame(df).collect()
    }
    assert got[0] == (None, None, 0)
    assert got[1][2] == 1 and got[1][0] == got[1][1] is not None
    assert got[2][2] == 1 and got[2][0] == got[2][1]
    assert got[3][2] == 2  # 'abcdefgh', 'bcdefghi'
    assert got[3][0] is not None and got[3][0] != got[3][1]
