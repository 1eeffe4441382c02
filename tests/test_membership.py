"""Bloom-filter membership (ocr_spark/membership.py) and its
decontamination integration (decontaminate_bloom).

The correctness contract has three legs:
  * NO false negatives, ever (the property everything downstream relies
    on — verify-mode equality with the exact operator follows from it);
  * false positives at roughly the textbook (1 - e^{-kn/m})^k rate;
  * bit-for-bit DuckDB replayability of the bitmap arithmetic (the
    63-bit word / double-hash design exists solely for this), pinned
    here by running the same build+probe in DuckDB SQL.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_spark.membership import (
    DEFAULT_K,
    WORD_BITS,
    bloom_build,
    bloom_positions,
    bloom_probe,
)
from ocr_spark.textstats import py_portable_hash


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def _keys(spark, values):
    return _df(spark, [(v,) for v in values], "g bigint")


def _py_positions(g: int, m_bits: int, k: int) -> list[int]:
    """Driver-side twin of bloom_positions — used to cross-check the
    Spark expressions and to build expected bitmaps in plain Python."""
    h2 = ((g >> 31) & ((1 << 29) - 1)) | 1
    return [(g + i * h2) % m_bits for i in range(k)]


def test_no_false_negatives(spark):
    """Every inserted key must probe true — at a generous size AND at a
    pathologically tiny one (m_bits=63: a single word, heavy collision)."""
    hashes = [py_portable_hash(f"key-{i}") for i in range(500)]
    for m_bits in (1 << 14, WORD_BITS):
        bloom = bloom_build(_keys(spark, hashes), "g", m_bits, k=DEFAULT_K)
        got = bloom_probe(
            _keys(spark, hashes), bloom, "g", m_bits, k=DEFAULT_K
        ).collect()
        assert len(got) == 500
        assert all(r.might_contain for r in got), (
            f"false negative at m_bits={m_bits}"
        )


def test_false_positive_rate_in_band(spark):
    """Probe 2,000 keys DISJOINT from the 1,000 inserted ones at
    m/n ≈ 16, k=4: textbook fpp ≈ (1-e^{-1/4})^4 ≈ 0.24%.  Allow a wide
    band (≤ 8×) so hash luck can't flap the test, but a broken mask or
    word-index computation (fpp → ~100% or exactly 0 with collisions
    impossible at this m) still fails loudly.  The shuffled probe
    (``broadcast_bloom=False``, the no-broadcast-ceiling path) must
    reach the broadcast probe's verdicts, false positives included."""
    n, m_bits = 1000, 1 << 14
    inserted = [py_portable_hash(f"in-{i}") for i in range(n)]
    probed = [py_portable_hash(f"out-{i}") for i in range(2000)]
    assert not set(inserted) & set(probed)
    bloom = bloom_build(_keys(spark, inserted), "g", m_bits, k=4)
    got = bloom_probe(_keys(spark, probed), bloom, "g", m_bits, k=4).collect()
    fp = sum(1 for r in got if r.might_contain)
    assert fp / 2000 <= 8 * 0.0024, f"fp rate {fp / 2000:.4f} out of band"
    both = _keys(spark, inserted + probed)
    broadcast, shuffled = (
        {
            r.g: r.might_contain
            for r in bloom_probe(
                both, bloom, "g", m_bits, k=4, broadcast_bloom=flag
            ).collect()
        }
        for flag in (True, False)
    )
    assert len(broadcast) == n + 2000
    assert shuffled == broadcast


def test_positions_match_python_twin(spark):
    """bloom_positions (Catalyst) == the plain-Python derivation, incl.
    word-boundary values (bit 62 ↔ 63) and multi-word indices."""
    hashes = [py_portable_hash(f"pos-{i}") for i in range(50)]
    # plus adversarial raw values: 0, max 60-bit, word-boundary residues
    hashes += [0, (1 << 60) - 1, 62, 63, WORD_BITS * 7 + 62]
    m_bits = 1000
    rows = (
        _keys(spark, hashes)
        .select("g", bloom_positions(F.col("g"), m_bits, k=5).alias("p"))
        .collect()
    )
    for r in rows:
        assert list(r.p) == _py_positions(r.g, m_bits, 5), r.g


def test_build_output_is_bounded_and_words_exact(spark):
    """The bitmap table never exceeds ceil(m/63) rows regardless of key
    count, and each word equals the Python-computed OR of its bits."""
    m_bits, k = 630, 3          # 10 words max
    hashes = [py_portable_hash(f"w-{i}") for i in range(200)]
    words = {
        r.word_idx: r.word
        for r in bloom_build(_keys(spark, hashes), "g", m_bits, k).collect()
    }
    assert len(words) <= -(-m_bits // WORD_BITS)
    expect: dict[int, int] = {}
    for g in set(hashes):
        for pos in _py_positions(g, m_bits, k):
            expect[pos // WORD_BITS] = (
                expect.get(pos // WORD_BITS, 0) | (1 << (pos % WORD_BITS))
            )
    assert words == expect


def test_duckdb_replays_build_and_probe(spark):
    """The DuckDB arithmetic twin (the exact fragments the contract
    oracle uses) reproduces the Spark bitmap words AND the per-key probe
    verdicts bit-for-bit."""
    m_bits, k = 4096, 4
    inserted = [py_portable_hash(f"dk-{i}") for i in range(300)]
    probes = inserted[:50] + [py_portable_hash(f"dq-{i}") for i in range(300)]

    bloom = bloom_build(_keys(spark, inserted), "g", m_bits, k)
    words = {r.word_idx: r.word for r in bloom.collect()}
    verdicts = {
        r.g: r.might_contain
        for r in bloom_probe(_keys(spark, probes), bloom, "g", m_bits, k)
        .collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ins AS SELECT unnest(?::BIGINT[]) AS g", [inserted]
    )
    con.execute(
        "CREATE TABLE prb AS SELECT unnest(?::BIGINT[]) AS g", [probes]
    )
    pos_expr = (
        f"(g + i * (((g >> 31) & 536870911) | 1)) % {m_bits}"
    )
    duck_words = dict(con.execute(f"""
        WITH p AS (
          SELECT {pos_expr} AS pos
          FROM (SELECT DISTINCT g FROM ins),
               (SELECT unnest(generate_series(0, {k - 1})) AS i))
        SELECT pos // {WORD_BITS} AS word_idx,
               bit_or(1::BIGINT << (pos % {WORD_BITS})::INT) AS word
        FROM p GROUP BY 1
    """).fetchall())
    assert duck_words == words

    duck_verdicts = dict(con.execute(f"""
        WITH bm AS (
          WITH p AS (
            SELECT {pos_expr} AS pos
            FROM (SELECT DISTINCT g FROM ins),
                 (SELECT unnest(generate_series(0, {k - 1})) AS i))
          SELECT pos // {WORD_BITS} AS word_idx,
                 bit_or(1::BIGINT << (pos % {WORD_BITS})::INT) AS word
          FROM p GROUP BY 1),
        pp AS (
          SELECT g, {pos_expr} AS pos
          FROM prb, (SELECT unnest(generate_series(0, {k - 1})) AS i))
        SELECT pp.g,
               min(CASE WHEN bm.word IS NOT NULL
                         AND (bm.word & (1::BIGINT << (pp.pos % {WORD_BITS})::INT)) <> 0
                        THEN 1 ELSE 0 END) = 1 AS might
        FROM pp LEFT JOIN bm ON pp.pos // {WORD_BITS} = bm.word_idx
        GROUP BY pp.g
    """).fetchall())
    assert duck_verdicts == verdicts
    assert all(duck_verdicts[g] for g in inserted[:50])


def test_param_validation():
    with pytest.raises(ValueError, match="m_bits"):
        bloom_positions(F.lit(1).cast("bigint"), 0, 4)
    with pytest.raises(ValueError, match="k must"):
        bloom_positions(F.lit(1).cast("bigint"), 64, 0)
    with pytest.raises(ValueError, match="MAX_M_BITS"):
        bloom_positions(F.lit(1).cast("bigint"), (1 << 50) + 1, 4)


def test_positions_address_full_filter_above_2_31(spark):
    """Regression: the earlier h1 = g & (2^31-1) base meant no position
    could exceed ~2^31 + (k-1)·2^29, silently wasting every bit above
    that in a large filter (the 10^10-bit blocklist regime).  With the
    full-hash base, positions over a 1.2e10-bit filter must (a) match
    the Python twin and (b) actually land above 2^31."""
    m_bits, k = 12_000_000_000, 4      # the module's own 10^9-key sizing
    hashes = [py_portable_hash(f"big-{i}") for i in range(2000)]
    rows = (
        _keys(spark, hashes)
        .select("g", bloom_positions(F.col("g"), m_bits, k).alias("p"))
        .collect()
    )
    top = 0
    for r in rows:
        assert list(r.p) == _py_positions(r.g, m_bits, k), r.g
        top = max(top, max(r.p))
    # with 8000 uniform positions over 1.2e10 the max is > 2^31 with
    # probability 1 - (2^31/1.2e10)^8000 ≈ 1 - 10^-6000
    assert top > (1 << 31), f"positions still capped at {top}"


def test_no_false_negatives_above_2_31(spark):
    """End-to-end build+probe at m_bits > 2^31: every inserted key still
    probes true (the bitmap table stays tiny — word cardinality is the
    number of TOUCHED words, not m/63)."""
    m_bits = (1 << 31) + (1 << 31) // 2   # 3.2e9, past the old ceiling
    hashes = [py_portable_hash(f"hi-{i}") for i in range(300)]
    bloom = bloom_build(_keys(spark, hashes), "g", m_bits, k=4)
    got = bloom_probe(_keys(spark, hashes), bloom, "g", m_bits, k=4).collect()
    assert len(got) == 300 and all(r.might_contain for r in got)


def test_probe_rejects_reserved_internal_names(spark):
    """A probe DataFrame carrying one of the probe's internal working
    columns must fail loudly at call time, not with an
    ambiguous-reference AnalysisException at planning time."""
    bloom = bloom_build(_keys(spark, [1, 2]), "g", 63, 1)
    probe = _df(spark, [(1, 5)], "g bigint, __bloom_pos bigint")
    with pytest.raises(ValueError, match="__bloom_pos"):
        bloom_probe(probe, bloom, "g", 63, 1)


def test_probe_rejects_column_collision(spark):
    bloom = bloom_build(_keys(spark, [1, 2]), "g", 63, 1)
    probe = _df(spark, [(1, True)], "g bigint, might_contain boolean")
    with pytest.raises(ValueError, match="might_contain"):
        bloom_probe(probe, bloom, "g", 63, 1)


# ------------------------------------------------- decontaminate_bloom

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "quick brown fox sighted near the river bank today"),
    (3, "completely unrelated text about spark shuffles here"),
    (4, "the quick brown fox jumps again and again today"),
]
_EVAL = [
    (100, "the quick brown fox jumps over the lazy dog"),
    (101, "jumps over the lazy dog every single morning"),
]


def test_verify_mode_equals_exact(spark):
    """Prune→verify output is IDENTICAL to the broadcast-exact operator
    (no false negatives ⇒ the verify join sees every true match), even
    at an absurdly small bitmap where nearly every gram is a Bloom FP."""
    from ocr_spark.decontam import decontaminate, decontaminate_bloom

    docs = _df(spark, _DOCS, "doc_id bigint, text string")
    eval_set = _df(spark, _EVAL, "eval_id bigint, text string")
    exact = sorted(
        map(tuple, decontaminate(docs, eval_set, n=3, min_overlap=2)
            .collect())
    )
    for m_bits in (1 << 12, WORD_BITS):
        got = sorted(
            map(tuple, decontaminate_bloom(
                docs, eval_set, n=3, min_overlap=2, m_bits=m_bits, k=4,
                mode="verify",
            ).collect())
        )
        assert got == exact, f"verify-mode drift at m_bits={m_bits}"


def test_approx_mode_never_under_flags(spark):
    """approx mode: per-doc Bloom gram count ≥ exact matched-gram count
    (superset), and with an adequately-sized bitmap the fixture's
    verdicts coincide with exact."""
    from ocr_spark.decontam import decontaminate, decontaminate_bloom

    docs = _df(spark, _DOCS, "doc_id bigint, text string")
    eval_set = _df(spark, _EVAL, "eval_id bigint, text string")
    exact = {
        r.doc_id: (r.n_matched_grams, r.contaminated)
        for r in decontaminate(docs, eval_set, n=3, min_overlap=2).collect()
    }
    approx = {
        r.doc_id: (r.n_bloom_grams, r.contaminated)
        for r in decontaminate_bloom(
            docs, eval_set, n=3, min_overlap=2, m_bits=1 << 12, k=4,
            mode="approx",
        ).collect()
    }
    assert set(approx) == set(exact)
    for doc_id, (n_exact, flag_exact) in exact.items():
        n_bloom, flag_bloom = approx[doc_id]
        assert n_bloom >= n_exact, doc_id
        assert flag_bloom >= flag_exact, doc_id   # never under-flags
    # at m/n ≫ 12 on this tiny fixture, FPs are vanishingly unlikely:
    assert approx == {d: v for d, v in exact.items()}


def test_verify_mode_shuffled_eval_join_equals_exact(spark):
    """broadcast_eval=False (the blocklist-scale verify shape) must
    produce the identical output through a shuffled gram join — and the
    plan must NOT broadcast the eval gram table."""
    from ocr_spark.decontam import decontaminate, decontaminate_bloom

    docs = _df(spark, _DOCS, "doc_id bigint, text string")
    eval_set = _df(spark, _EVAL, "eval_id bigint, text string")
    exact = sorted(
        map(tuple, decontaminate(docs, eval_set, n=3, min_overlap=2)
            .collect())
    )
    shuffled = decontaminate_bloom(
        docs, eval_set, n=3, min_overlap=2, m_bits=1 << 12, k=4,
        mode="verify", broadcast_eval=False, persist_eval=False,
    )
    assert sorted(map(tuple, shuffled.collect())) == exact


def test_mode_validation(spark):
    from ocr_spark.decontam import decontaminate_bloom

    docs = _df(spark, _DOCS, "doc_id bigint, text string")
    eval_set = _df(spark, _EVAL, "eval_id bigint, text string")
    with pytest.raises(ValueError, match="mode"):
        decontaminate_bloom(docs, eval_set, mode="exact")


# --------------------------------------------- cross-run bloom registry

def test_bloom_store_two_runs_equal_one_shot(spark, tmp_path):
    """Appending two delta bitmaps then OR-folding on read yields the
    EXACT word table of a one-shot build over the union — the merge
    identity the whole registry design rests on — and probes through the
    store see run-1 ∪ run-2 with no false negatives."""
    from ocr_spark.membership import (
        bloom_store_append,
        bloom_store_read,
    )
    from ocr_spark.tableio import ParquetManifestIO

    m_bits, k = 8192, 4
    run1 = [py_portable_hash(f"r1-{i}") for i in range(200)]
    run2 = [py_portable_hash(f"r2-{i}") for i in range(200)]
    io = ParquetManifestIO(str(tmp_path / "store"))
    bloom_store_append(io, _keys(spark, run1), "g", "seen", m_bits, k)
    bloom_store_append(io, _keys(spark, run2), "g", "seen", m_bits, k)

    folded = bloom_store_read(io, spark, "seen", m_bits, k)
    one_shot = {
        r.word_idx: r.word
        for r in bloom_build(_keys(spark, run1 + run2), "g", m_bits, k)
        .collect()
    }
    assert {r.word_idx: r.word for r in folded.collect()} == one_shot

    got = bloom_probe(
        _keys(spark, run1 + run2), folded, "g", m_bits, k
    ).collect()
    assert all(r.might_contain for r in got)


def test_bloom_store_rejects_geometry_drift(spark, tmp_path):
    """Reading under different (m_bits, k) than any committed snapshot
    must fail fast — a bitmap probed at the wrong geometry is silent
    garbage, not a degraded answer."""
    from ocr_spark.membership import bloom_store_append, bloom_store_read
    from ocr_spark.tableio import ParquetManifestIO

    io = ParquetManifestIO(str(tmp_path / "store"))
    bloom_store_append(io, _keys(spark, [1, 2, 3]), "g", "seen", 8192, 4)
    with pytest.raises(ValueError, match="geometry change needs"):
        bloom_store_read(io, spark, "seen", 16384, 4)
    with pytest.raises(ValueError, match="geometry change needs"):
        bloom_store_read(io, spark, "seen", 8192, 5)


def test_bloom_store_compaction_invisible_to_probe(spark, tmp_path):
    """jobs/compact_store.py --mode bloom-or folds the registry to ONE
    snapshot with probe verdicts identical before and after; a
    mixed-geometry store refuses to compact."""
    from jobs.compact_store import main as compact_main
    from ocr_spark.membership import (
        bloom_store_append,
        bloom_store_fold,
        bloom_store_read,
    )
    from ocr_spark.tableio import ParquetManifestIO

    m_bits, k = 8192, 4
    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)
    for run in range(3):
        keys = [py_portable_hash(f"run{run}-{i}") for i in range(100)]
        bloom_store_append(io, _keys(spark, keys), "g", "seen", m_bits, k)
    probes = _keys(
        spark,
        [py_portable_hash(f"run1-{i}") for i in range(100)]
        + [py_portable_hash(f"x-{i}") for i in range(100)],
    )
    before = {
        r.g: r.might_contain
        for r in bloom_probe(
            probes, bloom_store_read(io, spark, "seen", m_bits, k),
            "g", m_bits, k,
        ).collect()
    }
    compact_main(
        ["--store", store, "--table", "seen", "--mode", "bloom-or"]
    )
    assert len(io.snapshots("seen")) == 1
    after = {
        r.g: r.might_contain
        for r in bloom_probe(
            probes, bloom_store_read(io, spark, "seen", m_bits, k),
            "g", m_bits, k,
        ).collect()
    }
    assert after == before

    # mixed geometry: a rogue snapshot under different params must make
    # the fold refuse (never silently OR incompatible bitmaps)
    bloom_store_append(io, _keys(spark, [7, 8]), "g", "seen", 4096, 4)
    with pytest.raises(ValueError, match="mixed"):
        bloom_store_fold(io.read(spark, "seen")).collect()


@pytest.mark.parametrize(
    "order", ["append_inside_compaction", "compaction_inside_append"]
)
def test_bloom_compaction_races_tagged_append(
    spark, tmp_path, monkeypatch, order
):
    """``compact_store.py --mode bloom-or`` racing an in-flight tagged
    registry append, interleaved deterministically at the writer lock:

    * ``append_inside_compaction`` — the append commits between the
      fold's manifest load and its swap: the swap must abort
      (ConcurrentWriteError, store untouched), and a re-run compacts;
    * ``compaction_inside_append`` — the compaction commits between the
      append's data write and its manifest swap: the append then lands
      as a snapshot after the compacted one.

    Either way every committed bitmap word survives, every committed tag
    is still refused on replay, and probes equal a fresh one-shot
    build."""
    from jobs.compact_store import main as compact_main
    from ocr_spark.membership import bloom_store_append, bloom_store_read
    from ocr_spark.tableio import (
        ConcurrentWriteError,
        DuplicateTagError,
        ParquetManifestIO,
    )

    m_bits, k = 8192, 4
    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)

    class Tagged:
        """The registry seam with a commit tag on every append."""

        def __init__(self, tag):
            self.tag = tag

        def append(self, df, table):
            return io.append(df, table, tag=self.tag)

    runs = [
        [py_portable_hash(f"race{run}-{i}") for i in range(100)]
        for run in range(3)
    ]
    for run in (0, 1):
        bloom_store_append(
            Tagged(f"run/{run}"), _keys(spark, runs[run]), "g", "seen",
            m_bits, k,
        )

    def compact():
        compact_main(["--store", store, "--table", "seen",
                      "--mode", "bloom-or", "--vacuum"])

    def racing_append():
        bloom_store_append(
            Tagged("run/2"), _keys(spark, runs[2]), "g", "seen", m_bits, k
        )

    # the first writer-lock entry belongs to the outer operation: run
    # the inner one to completion there, before the outer swap; later
    # entries pass straight through
    orig_lock = ParquetManifestIO._writer_lock
    inner = racing_append if order == "append_inside_compaction" else compact
    fired = []

    def lock_after_inner(self, table, timeout_s=60.0):
        if not fired:
            fired.append(table)
            inner()
        return orig_lock(self, table, timeout_s=timeout_s)

    monkeypatch.setattr(ParquetManifestIO, "_writer_lock", lock_after_inner)
    if order == "append_inside_compaction":
        with pytest.raises(ConcurrentWriteError, match="re-run"):
            compact()
        assert io.snapshots("seen") == [0, 1, 2]  # store untouched
        compact()
        assert io.snapshots("seen") == [2]
    else:
        racing_append()
        assert io.snapshots("seen") == [1, 2]  # compacted, then appended
    assert fired == ["seen"]

    every_key = runs[0] + runs[1] + runs[2]
    one_shot = bloom_build(_keys(spark, every_key), "g", m_bits, k)
    stored = bloom_store_read(io, spark, "seen", m_bits, k)
    assert {r.word_idx: r.word for r in stored.collect()} == {
        r.word_idx: r.word for r in one_shot.collect()
    }
    for run in range(3):
        with pytest.raises(DuplicateTagError):
            bloom_store_append(
                Tagged(f"run/{run}"), _keys(spark, runs[run]), "g", "seen",
                m_bits, k,
            )
    probes = _keys(
        spark, every_key + [py_portable_hash(f"x-{i}") for i in range(200)]
    )

    def verdicts(bitmap):
        return {
            r.g: r.might_contain
            for r in bloom_probe(probes, bitmap, "g", m_bits, k).collect()
        }

    assert verdicts(stored) == verdicts(one_shot)


def test_fold_refuses_disjoint_word_index_geometries(spark, tmp_path):
    """Regression: the fold's old guard only fired when the two
    geometries COLLIDED on a word_idx, so a (m=63, k=1) history plus a
    second geometry whose keys touch no bit in word 0 compacted into a
    silently mixed snapshot.  The direct distinct-(m_bits, k) check must
    refuse regardless of which words the bitmaps touch."""
    from ocr_spark.membership import (
        bloom_store_append,
        bloom_store_fold,
    )
    from ocr_spark.tableio import ParquetManifestIO

    io = ParquetManifestIO(str(tmp_path / "store"))
    # geometry A: m_bits=63 → every row has word_idx 0
    bloom_store_append(io, _keys(spark, [1, 2, 3]), "g", "seen", 63, 1)
    # geometry B: keys chosen so NO position lands in word 0 at m=8192
    avoid0 = [
        g for g in (py_portable_hash(f"dj-{i}") for i in range(500))
        if all(p >= 63 for p in _py_positions(g, 8192, 4))
    ][:20]
    assert avoid0, "fixture failed to find word-0-avoiding keys"
    bloom_store_append(io, _keys(spark, avoid0), "g", "seen", 8192, 4)
    with pytest.raises(ValueError, match="mixed"):
        bloom_store_fold(io.read(spark, "seen"))
