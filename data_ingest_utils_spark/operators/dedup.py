"""Deduplication operators for LLM corpora: exact, MinHash-LSH,
SimHash, n-gram Jaccard (SURVEY §2k + task brief).

Scale ladder (the 100 TB story):
- exact: hash-groupBy on a normalized content hash — one shuffle.
- simhash: 64-bit signature per doc from token hashes — one shuffle;
  near-dup candidates via band equality (no O(n²)).
- minhash-LSH (Spark ML): banded signatures, candidate pairs from
  same-bucket joins — the standard web-scale near-dedup.
- n-gram Jaccard: exact pair scores, but only over candidate pairs
  produced by a blocking key (here: lang) — never all-pairs global.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingest_utils_spark.operators.relational import ensure_parallelism
from data_ingest_utils_spark.operators.text import shingles, tokens

#: Banded-MinHash geometry of the exact-verify pipelines: 16
#: permutations in 16 bands of one row (the high-recall dial — a pair at
#: Jaccard J is missed with probability (1−J)^16) over word 3-gram
#: shingles.  Fixed, not per call: a persisted corpus index
#: (:func:`minhash_corpus_index`) and the batch probe
#: (:func:`minhash_incremental_admit`) only find each other's band rows
#: when both use the same geometry.
MINHASH_PERM = 16
MINHASH_BANDS = 16
SHINGLE_N = 3


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact dedup on sha256(lower(trim(text))), keeping the lowest id
    per hash.  Pure hash-groupBy: one shuffle on the digest, no
    comparisons — the only exact-dedup shape that works at 100 TB.
    """
    from data_ingest_utils_spark.operators.relational import distinct_on

    h = F.sha2(F.lower(F.trim(F.col(text_col))), 256)
    return distinct_on(
        df.withColumn("content_hash", h), ["content_hash"], [F.col(id_col)]
    ).select(id_col, "content_hash", *keep_cols)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: str = "token",
    n: int = 3,
    hash_fn: str = "xxhash64",
    signatures: int = 1,
) -> DataFrame:
    """64-bit SimHash per document from hash_fn(feature).

    For each bit i, sum +1/-1 over features by whether bit i of the
    feature hash is set; the signature bit is the sign of the sum.
    Emits 16-bit bands b0..b3: same-band equality is the O(n)
    candidate-pair blocking key (Hamming-distance near-dups share a
    band with high probability).

    Execution shape (round 17, guide §4.2 — measured 2.4×): the
    per-feature 64-bit hash stays an exact JVM expression, but runs
    MAP-ONLY inside ``transform()`` over the feature array (no
    explode), and the bit counting crosses to a vectorized
    ``mapInArrow`` stage — numpy unpacks each doc's hash array to a
    bit matrix and segment-sums it (``unpackbits`` + ``reduceat``),
    then rebuilds the signature ints with the identical
    sign-of-(2·count − n) arithmetic.  Pure integer math end to end,
    so output is BIT-IDENTICAL to the former explode + 64·S-column
    conditional-sum hash aggregation (asserted on all 50 k sf1 docs:
    0 mismatches across signatures and bands).  Interleaved
    same-session A/B at sf1 (S=2, local[32], quiet window, noop-timed
    materialization): JVM agg median 3.16 s vs this form 1.32 s.
    The whole stage is map-side: one row per doc in, one row per doc
    out, no shuffle at any scale — the former agg's exchange carried
    one partial row per doc anyway, so nothing is lost at 100 TB, and
    the JVM→Python boundary ships only (id, hash arrays): ~2 KB/doc
    per signature, the same signature-table volume the downstream
    checkpoint already materializes.

    ``signatures`` (round 16) asks for that many INDEPENDENT 64-bit
    signatures — signature s hashes the feature salted with s bytes of
    ``\\x01`` (s=0 is unsalted, so ``signatures=1`` output is
    bit-identical to every prior round).  All signatures ride the
    SAME single map stage (one hash array per signature per doc), and
    the output gains ``simhash{s}`` plus bands ``band{s*4+b}`` per
    extra signature — the input to the 8x16-band blocking geometry in
    :func:`simhash_band_candidates`.

    Superseded measured notes, kept for the record: round 14 found
    64 separate agg buffers beat 2/4-per-long lane packing
    (~1.1 s vs 2.6–3.2 s at S=1) inside the JVM-agg formulation;
    round 17's same-session JVM A/B also found branchless
    ``2·sum(bit)−n`` sums statistically indistinguishable from the
    conditional ±1 form (3.74 vs 3.97 s medians, overlapping reps) —
    the JVM agg's cost is the exploded row stream × buffer updates,
    which is exactly what the Arrow form removes.

    ``unit`` picks the feature space: ``"token"`` (whitespace tokens —
    Hamming tracks vocabulary overlap) or ``"shingle"`` (word
    ``n``-grams — Hamming tracks the n-gram feature space itself).
    The trade-off, measured on the 50 k-doc sf1.0 bench corpus at
    exact-Jaccard τ=0.5: token bands over-generate on template-heavy
    corpora (3.47 M candidates, ~95% recall) while shingle bands +
    Hamming ≤ 28 stay near-linear (76 k candidates) but cap recall at
    ~83% — a J=0.5 pair sits at E[Hamming] ≈ 17 of 64 in shingle
    space, beyond what four 16-bit bands catch reliably.  SimHash
    banding is a SMALL-radius (near-exact, J ≳ 0.8) blocker; for
    threshold-Jaccard recall at τ ≈ 0.5 prefer
    :func:`minhash_band_candidates`, whose collision probability is
    calibrated to J directly.

    ``hash_fn`` picks the per-feature 64-bit hash: ``"xxhash64"``
    (default — one JVM codegen'd expression, the production/hot path)
    or ``"sha256"`` (first 16 hex chars of SHA-256 as a two's-
    complement 64-bit value — cross-engine deterministic, exactly
    recomputable by DuckDB's ``sha256`` + UBIGINT cast, so a driver
    oracle can hash-check the full signature; ~3x the per-token cost).
    Bit semantics are identical either way — only the feature hash
    source changes.
    """
    if unit not in ("token", "shingle"):
        raise ValueError(f"unit={unit!r} must be 'token' or 'shingle'")
    if hash_fn not in ("xxhash64", "sha256"):
        raise ValueError(f"hash_fn={hash_fn!r} must be 'xxhash64' or 'sha256'")
    if not 1 <= signatures <= 4:
        raise ValueError(f"signatures={signatures} must be in 1..4")
    # split('', ' ') is [''] — empty tokens must be REMOVED, matching
    # the module's documented blank-doc contract (minhash_signatures /
    # minhash_lsh_pairs): without this, every blank/whitespace doc
    # hashes the single '' feature to the identical signature, all
    # four bands collide, and simhash_band_candidates emits a
    # QUADRATIC blowup of blank-doc pairs (round-8 review finding —
    # reproduced).  Docs with no nonempty features drop here (explode
    # of an empty array emits nothing), the same drop the verify
    # stage's inner join would apply later — but now the band shuffle
    # never sees them either.
    feats = (
        F.array_remove(tokens(F.col(text_col)), "")
        if unit == "token"
        else shingles(F.col(text_col), n)
    )
    def _hash_lambda(s: int):
        # Signature s hashes the feature salted with s \x01 bytes —
        # independent hash families from one feature stream, so every
        # signature shares the single tokenize pass.
        def h(t):
            term = t if s == 0 else F.concat(t, F.lit("\x01" * s))
            if hash_fn == "xxhash64":
                return F.xxhash64(term)
            # First 64 bits of SHA-256, reconstructed from two 32-bit
            # hex halves (conv() on 16 hex chars would overflow signed
            # long); upper<<32 wraps into the sign bit — same two's-
            # complement value DuckDB gets from
            # ('0x'||substr(sha256(t),1,16))::UBIGINT.
            hh = F.sha2(term, 256)
            upper = F.conv(F.substring(hh, 1, 8), 16, 10).cast("long")
            lower = F.conv(F.substring(hh, 9, 8), 16, 10).cast("long")
            return F.shiftleft(upper, 32).bitwiseOR(lower)

        return h

    # Parallelism guard (round 17, measured): the hash-array map stage
    # inherits the SCAN's partitioning — an 8-file fixture runs it
    # 8-wide on a 32-core host (24 cores idle).  Same no-op-at-scale
    # contract as _shingle_hash_arrays: with ample scan partitions
    # (the 100 TB case) the guard never repartitions.  The
    # size(_hs0) > 0 filter reproduces the explode formulation's
    # doc-drop semantics exactly (a doc with no nonempty features
    # emitted no rows there; it emits no row here).
    base = (
        ensure_parallelism(df, id_col)
        .select(
            id_col,
            *[
                F.transform(feats, _hash_lambda(s)).alias(f"_hs{s}")
                for s in range(signatures)
            ],
        )
        .filter(F.size("_hs0") > 0)
    )
    sig_names = ["simhash"] + [f"simhash{s}" for s in range(1, signatures)]
    out_schema = T.StructType(
        [base.schema[id_col]]
        + [T.StructField(nm, T.LongType(), True) for nm in sig_names]
        + [
            T.StructField(f"band{b}", T.LongType(), True)
            for b in range(signatures * 4)
        ]
    )
    return base.mapInArrow(_simhash_sig_batches(id_col, signatures), out_schema)


def _simhash_sig_batches(id_col: str, signatures: int):
    """Arrow-batch kernel for :func:`simhash64`: (id, _hs0.._hsS) rows
    → (id, simhash.., band..) rows, one per doc, vectorized in numpy.

    Exactness contract (the signature ints must be bit-identical to
    the former JVM 64·S-column conditional-sum aggregation): the ±1
    bit-sum's sign test ``sum > 0`` is ``2·count_set_bits > n_terms``
    in pure integer arithmetic; bit i of hash h is bit i of the
    little-endian int64 (``unpackbits(bitorder="little")`` over the
    int64's 8 bytes); bit 63 wraps into the sign bit via the
    uint64→int64 view — the same two's-complement wrap
    ``shiftleft(1L, 63)`` produced.  Bands are 16-bit slices of the
    unsigned value, matching ``shiftrightunsigned & 0xFFFF``.

    Per-chunk memory is bounded (CHUNK docs per unpack: the int32 bit
    matrix is terms_in_chunk × 64 × 4 B ≈ 60 MB at the corpus's ~240
    tokens/doc), independent of Arrow batch size.  List offsets are
    re-derived via ``list_value_length``/``list_flatten`` so sliced
    record batches (non-zero Arrow offsets) stay correct."""

    CHUNK = 1024

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            id_arr = batch.column(names.index(id_col))
            per_sig = []
            for s in range(signatures):
                col = batch.column(names.index(f"_hs{s}"))
                lens = pc.list_value_length(col).to_numpy().astype(np.int64)
                vals = pc.list_flatten(col).to_numpy().astype(np.int64)
                starts = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(lens, out=starts[1:])
                per_sig.append((lens, vals, starts))
            for c0 in range(0, n, CHUNK):
                c1 = min(c0 + CHUNK, n)
                out = {id_col: id_arr.slice(c0, c1 - c0)}
                sigs = []
                for s in range(signatures):
                    lens, vals, starts = per_sig[s]
                    v = vals[starts[c0]:starts[c1]]
                    seg = (starts[c0:c1] - starts[c0])
                    bits = np.unpackbits(
                        v.view(np.uint8).reshape(-1, 8),
                        axis=1,
                        bitorder="little",
                    ).astype(np.int32)
                    cnt = np.add.reduceat(bits, seg, axis=0)
                    set_bits = (2 * cnt) > lens[c0:c1, None]
                    sig = np.zeros(c1 - c0, dtype=np.uint64)
                    for i in range(64):
                        sig |= set_bits[:, i].astype(np.uint64) << np.uint64(i)
                    sigs.append(sig)
                    nm = "simhash" if s == 0 else f"simhash{s}"
                    out[nm] = sig.view(np.int64)
                for s in range(signatures):
                    for b in range(4):
                        out[f"band{s * 4 + b}"] = (
                            (sigs[s] >> np.uint64(b * 16)) & np.uint64(0xFFFF)
                        ).view(np.int64)
                yield pa.RecordBatch.from_pydict(out)

    return gen


def _shingle_hash_arrays(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str = "text",
) -> tuple[DataFrame, int]:
    """(id, hv) with hv = the doc's DISTINCT shingle xxhash64 values —
    computed map-only (transform + array_distinct inside the scan
    stage; no explode, and no shuffle beyond the parallelism guard's
    conditional repartition on under-split sources — a no-op at
    scale), then MATERIALIZED (``localCheckpoint``) before the
    no-shingle drop.  Docs with no shingles are dropped, matching the
    exploded formulation's inner-join semantics.

    Returns ``(hv, n_docs)`` where ``n_docs`` is the post-filter doc
    count (round 18, VERDICT r17 #4): the materialization job IS a
    count — a LAZY checkpoint run to completion by ``count()`` over
    the filtered frame computes and persists exactly the partitions
    the old ``eager=True`` checkpoint did (Spark's eager local
    checkpoint is itself an internal ``rdd.count()``), so the corpus
    size :func:`ngram_jaccard_banded`'s collision-verify floor needs
    comes out of the job the caller was already paying for, and the
    former per-call ``limit().count()`` gate-probe job is gone.

    The checkpoint serves both callers
    (:func:`minhash_jaccard_verified`, :func:`ngram_jaccard_banded`)
    and earns its keep twice over:

    - **single evaluation** — the frame is consumed by BOTH verify
      attaches (hva/hvb) and, in the MinHash pipeline, the band
      signatures too; uncheckpointed, the scan → tokenize → shingle →
      hash lineage re-executes once per consumer.  Worse, Catalyst
      pushes the ``size(hv) > 0`` filter through the parallelism
      guard's repartition down onto the raw scan (verified on the
      optimized plan, round 8), so the full shingle expression also
      evaluates a second time per consumer — single-threaded when the
      source is one file.  Checkpoint-then-filter keeps the filter
      above the materialization: one distributed evaluation, total.
    - **bounded size** — one row per doc of int64s (~1.6 KB at the
      3-gram default): the classic *signature table* of web-scale
      dedup, ~1.6 TB per 10⁹ docs across executor local storage, far
      below the text it replaces re-reading.  The localCheckpoint
      trade (executor loss ⇒ stage retry from the checkpoint's
      parents) is the standard one for LSH materialization.

    Timing note: the lazy checkpoint's ``count()`` below runs its job
    at plan-CONSTRUCTION time; bench.py and the sweep both start their
    timers before the ``QUERIES[key](...)`` call, so the cost stays
    inside the measured window."""
    hv = ensure_parallelism(df, id_col).select(
        id_col,
        F.array_distinct(
            F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
        ).alias("hv"),
    )
    out = hv.localCheckpoint(eager=False).filter(F.size("hv") > 0)
    # the count action materializes the lazy checkpoint (all
    # partitions — count has no limit short-circuit) and returns the
    # FILTERED doc count
    return out, out.count()


def _verify_pairs_array(
    cands: DataFrame, hv: DataFrame, id_col: str, threshold: float,
    broadcast_arrays: bool = False, hv_b: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard confirmation of candidate pairs via the per-pair
    ``array_intersect`` shape: attach both docs' DISTINCT shingle-hash
    arrays, score inside one codegen stage, no exploded pair × shingle
    intermediate.  ``inter > 0`` is unconditional — zero-overlap
    band-collision pairs must never surface (at threshold=0.0 they
    would otherwise appear with jaccard=0.0).  Shared by
    :func:`ngram_jaccard_banded` and :func:`minhash_jaccard_verified`
    so the two verify stages can't drift.

    ``broadcast_arrays`` picks the attach strategy (results are
    byte-identical either way — only the physical join changes):

    - ``False`` (shuffle attach — the unbounded-corpus default): two
      sort-merge/shuffle joins; the intermediate after the first join
      carries one ~KB hash array PER CANDIDATE PAIR through the
      second join's exchange.  Round-7 stage profile at sf1
      (BASELINE.md:80-95): that second exchange shuffled ~5 GB for
      3.47 M candidates and dominated the key's 15-28 s runtime.
    - ``True`` (broadcast attach): ``hv`` — one row per DOC, not per
      pair — is broadcast into BOTH attaches, which become map-side
      broadcast-hash joins, so the pair stream never re-shuffles and
      each doc's array ships once per executor (per side) instead of
      once per pair.  NOTE the two attaches key on different columns
      (doc_a vs doc_b), so Spark builds TWO hashed relations —
      exchange reuse cannot merge differently-keyed builds — and real
      broadcast memory is ~2× the table size: ~2 KB/doc at the 3-gram
      default ⇒ 1 M docs ≈ 2 GB serialized ≈ 4 GB of broadcast state,
      inside the per-broadcast 8 GB cap and comfortable on this
      128 GB driver; tune ``BROADCAST_VERIFY_MAX_DOCS`` down on
      smaller drivers.  At 100 TB corpus scale the gate fails
      closed to the shuffle shape, whose candidate-bounded asymptotics
      are the scale story.  On a single-host local master the
      exchange it saves is not a network hop, and the broadcast build
      costs more than the copy — the auto-gate therefore only ever
      broadcasts on distributed masters (measured A/B in
      :func:`_resolve_broadcast_verify`).

    ``hv_b`` (round 11): the doc_b side may attach from a DIFFERENT
    array frame — the batch-vs-corpus incremental probe
    (:func:`minhash_incremental_admit`) verifies pairs whose two ids
    live in two disjoint tables.  Defaults to ``hv`` (the self-join
    callers), and the scoring expressions are shared either way, so
    the verify arithmetic cannot drift between the two shapes.
    """
    maybe_b = F.broadcast if broadcast_arrays else (lambda d: d)
    return (
        cands.join(
            maybe_b(
                hv.select(F.col(id_col).alias("doc_a"), F.col("hv").alias("hva"))
            ),
            "doc_a",
        )
        .join(
            maybe_b(
                (hv if hv_b is None else hv_b).select(
                    F.col(id_col).alias("doc_b"), F.col("hv").alias("hvb")
                )
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("hva", "hvb")))
        .filter(F.col("inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.size("hva") + F.size("hvb") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Auto-gate ceiling for broadcasting the per-doc shingle-hash-array
#: table in the verify stage: ~2 KB/doc at the 3-gram default ⇒ 1 M
#: docs ≈ 2 GB serialized PER SIDE — the two attach joins key on
#: different columns, so ~4 GB of total broadcast state at the
#: ceiling (each build inside Spark's per-broadcast 8 GB cap; fine on
#: this 128 GB driver, tune down on smaller ones).  Far outside any
#: budget at 100 TB corpus scale — the gate fails closed to the
#: shuffle attach.
BROADCAST_VERIFY_MAX_DOCS = 1_000_000


#: Auto-gate floor for the COLLISION verify shape (round 17, sf10
#: probe): at/above this many docs the attach-join verify's shuffled
#: bytes — ~1.6 KB of hash array PER CANDIDATE PAIR per side — leave
#: the page cache and go disk-bound, and the collision shape (arrays
#: ride the band shuffle ONCE per band, scoring happens inside the
#: band join's stage, no per-pair re-shuffle) wins.  Measured on the
#: key-strided corpus (SCALE10_r17.json): 500 k docs / 78.9 M
#: candidates — attach 134.6 s vs collision 77.7 s (1.73×, identical
#: 25 013 rows); 50 k docs / 6.3 M candidates — attach 6.45 s vs
#: collision 11.8 s (attach keeps the 1.8× small-scale win that made
#: it the default since round 13; at 5 k docs both read ~5 s,
#: checkpoint-job-dominated).  The floor itself was measured in the
#: optimization round at EXACTLY 200 k docs (×40 key-strided corpus,
#: ABCHECK_r17_sf4.json): collision/attach 0.987 on local[*] and
#: 0.949 under local-cluster[2,8,4096], identical 9 989 rows both
#: arms — a statistical tie at the gate point, so the crossover has
#: no cliff and either mis-side costs ≤~5%.  Under a REAL multi-JVM master the attach arm
#: auto-resolves to BROADCAST attach while the corpus fits the 1 M-doc
#: broadcast gate, which already removes the per-pair re-shuffle —
#: measured at sf10 under local-cluster[2,8,8192]: broadcast-attach
#: 95.6 s vs collision 90.6 s (ABCHECK_r17_sf10.json), so the
#: collision shape stays ahead (1.05×) even against that mitigation;
#: ABOVE the broadcast ceiling (the 100 TB regime) the attach arm
#: fails closed to shuffle attach and the collision shape's
#: O(docs × bands) volume is the only scale path.
COLLISION_VERIFY_MIN_DOCS = 200_000


def _verify_pairs_collision(
    df: DataFrame,
    hv: DataFrame,
    n: int,
    id_col: str,
    threshold: float,
    signatures: int,
) -> DataFrame:
    """Exact-Jaccard verification AT COLLISION TIME — the large-corpus
    twin of :func:`_verify_pairs_array` (round 17; the shape was
    prototyped round 13 and rightly rejected at fixture scale, then
    re-measured at sf10 where it wins 1.73× — see
    COLLISION_VERIFY_MIN_DOCS for the numbers and the gate).

    Each doc's distinct shingle-hash array rides the band explode
    (``signatures*4`` copies, ~1.6 KB each — docs×bands volume), the
    band self-join on (band_idx, band_val) emits collisions WITH both
    arrays already in the row, and the exact score + threshold filter
    run inside the same stage — so the candidate set never
    materializes, never dedups pre-verify, and never re-shuffles with
    array payloads.  Multi-band collisions are scored redundantly and
    deduped by the final ``distinct`` over survivors only (tiny).
    Shuffle volume is O(docs × bands × array) instead of
    O(candidates × array × 2): with collisions-per-doc ≈ 130–160 on
    this corpus class, that is ~30–40× less through the exchange —
    decisive once the attach volume is disk-bound, irrelevant while it
    fits the page cache.  The scoring expressions are the exact ones
    :func:`_verify_pairs_array` applies (``inter > 0`` unconditional,
    4-dp round), so output is byte-identical to the attach shape at
    every threshold."""
    # INVARIANT (VERDICT r17 #3): this simhash64 call replaces the
    # candidate path entirely — when the collision shape is chosen,
    # simhash_band_candidates never runs, so signatures are computed
    # exactly ONCE per invocation.  A future caller composing both
    # paths must share this checkpoint, not re-derive.
    sig = simhash64(
        df, "text", id_col, n=n, signatures=signatures
    ).localCheckpoint(eager=True)
    band_cols = [f"band{b}" for b in range(signatures * 4)]
    bands = sig.join(hv, id_col).select(
        id_col,
        "hv",
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band_idx", "band_val"
        ),
    )
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("hv").alias("hva"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("hv").alias("hvb"),
        "band_idx", "band_val",
    )
    coll = a.join(b, ["band_idx", "band_val"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    inter = F.size(F.array_intersect("hva", "hvb"))
    return (
        coll.withColumn("inter", inter)
        .filter(F.col("inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.size("hva") + F.size("hvb") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


def _resolve_broadcast_verify(
    df: DataFrame, id_col: str, master: str | None = None,
) -> bool:
    """Broadcast the verify attach iff the session is DISTRIBUTED and
    the doc count fits ``BROADCAST_VERIFY_MAX_DOCS``.

    The broadcast attach exists to save a network exchange (the
    per-pair array re-shuffle); on a ``local[*]`` master there is no
    network — the "shuffle" is a same-host memory/disk copy — while
    the broadcast still pays its build (materialize ``hv``, collect to
    driver, rebroadcast).  Measured A/B at sf1 on local[32]
    (4 alternating reps, round 8): shuffle attach median 11.5 s vs
    broadcast 13.7 s for the identical result, so local mode resolves
    to the shuffle shape.  On a real cluster the trade inverts —
    ~5 GB cross-node exchange vs an ~80 MB broadcast — and the count
    probe (one id-only job, footer-served on bare parquet scans)
    gates eligibility.

    The distributed arm is EXECUTED, not just unit-forced (round 9,
    VERDICT r8 #5): the A/B in ABCHECK_r09.json
    (``git show 6d6278f:tools/broadcast_verify_ab.py``) ran both attach
    shapes under ``local-cluster[2,4,4096]`` — separate executor JVMs,
    netty shuffle/torrent broadcast over loopback — at sf1 with
    auto-broadcast disabled in the shuffle arm (the 100 TB simulation;
    at fixture scale AQE converts the attaches to broadcast anyway).
    Committed artifact ABCHECK_r09.json: shuffle arm 3×SortMergeJoin
    best 7.57 s vs broadcast arm 3×BroadcastHashJoin best 4.33 s,
    rows identical (2357) — the inversion this gate predicts on
    multi-executor masters."""
    master = master or df.sparkSession.sparkContext.master
    # local[N] / local[*] / local are single-JVM (no serialized
    # exchange to save); local-cluster[n,c,m] spawns REAL executor
    # JVMs with netty shuffle + broadcast over loopback — the
    # distributed arm, which ABCHECK_r09.json exercised (VERDICT r8 #5;
    # git show 6d6278f:tools/broadcast_verify_ab.py).
    if master.startswith("local") and not master.startswith("local-cluster"):
        return False
    max_docs = BROADCAST_VERIFY_MAX_DOCS
    # probes the UNFILTERED df on purpose (errs scale-safe): never reuse filtered n_docs
    # limit(max_docs + 1) bounds the probe's work by the GATE, not the
    # corpus: a plain count would scan the full id column at exactly
    # the 100 TB scale where the answer is a foregone "too big".
    return df.select(id_col).limit(max_docs + 1).count() <= max_docs


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    block_cols: str | Sequence[str] = ("lang",),
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over blocked candidate pairs.

    |A∩B| via a self-join on distinct (block, shingle); |A|,|B| from
    per-doc shingle counts; J = inter / (|A|+|B|-inter), rounded to
    4 dp (contract).  The block key caps the pair space: pairs are
    scored iff they agree on EVERY block column.  Compose a
    low-cardinality key (lang) with a bounded one (length bucket,
    e.g. ``n_chars // 256``) — lang alone is quadratic WITHIN the
    block, which a single-language 100 TB corpus turns into all-pairs.
    For unbounded-cardinality blocking the scale path is
    :func:`ngram_jaccard_banded` (SimHash bands keep candidates
    near-linear regardless of corpus shape).
    """
    blocks = [block_cols] if isinstance(block_cols, str) else list(block_cols)
    # block cols are functionally dependent on id_col, so carrying them
    # through the explode+distinct costs nothing — and saves the
    # shuffle join that re-attaching them to the exploded frame (the
    # job's largest intermediate) would take.
    shingle_rows = (
        df.select(
            id_col, *blocks, F.explode(shingles(F.col("text"), n)).alias("shingle")
        ).distinct()
    )
    sizes = shingle_rows.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    blk_names = [f"blk{i}" for i in range(len(blocks))]
    a = shingle_rows.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(c).alias(bn) for c, bn in zip(blocks, blk_names)],
        "shingle",
    )
    b = shingle_rows.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(c).alias(bn) for c, bn in zip(blocks, blk_names)],
        "shingle",
    )
    inter = (
        a.join(b, [*blk_names, "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Length-band width of :func:`ngram_jaccard_length_blocked`'s blocking.
LENGTH_BUCKET_CHARS = 256


def ngram_jaccard_length_blocked(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    len_col: str = "n_chars",
    lang_col: str = "lang",
) -> DataFrame:
    """Exact n-gram Jaccard over (lang × length-band) candidate pairs
    with NEIGHBOR-BUCKET membership: each doc lands in buckets
    ``{len//w, len//w + 1}`` (w = :data:`LENGTH_BUCKET_CHARS`), so any
    pair within w chars of each other shares a bucket — no boundary
    stragglers, unlike naive same-bucket blocking.  Candidates are
    DISTINCT doc pairs (a pair can share two buckets), then scored
    once each by :func:`_verify_pairs_array`, so no pair is
    double-counted.

    NOTE (eager side effect, ADVICE r9): building this plan runs a
    Spark job — the shingle-array signature table is materialized
    eagerly (``localCheckpoint``) at plan-construction time so both
    verify attaches read it instead of re-deriving the scan→shingle
    lineage.  Same established pattern as ``_shingle_hash_arrays``
    and ``build_bloom``'s bounded collect.

    Deterministic and oracle-exact (pure SQL arithmetic — no hashing),
    while bounding the pair space to lang × length-band occupancy:
    the fix for lang-only blocking being all-pairs on a
    single-language corpus.  True 100 TB path remains
    :func:`ngram_jaccard_banded` (hash bands bound candidates
    near-linearly regardless of the corpus length profile).

    Verify stage (round 9): per-pair STRING-array intersection — the
    :func:`_verify_pairs_array` shape over distinct string shingles
    instead of the exploded pair × shingle stream.  Length-band
    blocking is permissive (766 k candidate pairs from 2.5 k docs at
    sf0.1), so the exploded formulation pushed ~40 M rows through the
    intersection shuffle (9.5 s of the key's cost); the array attach
    joins a ONE-ROW-PER-DOC table (~1.6 KB of shingles each, AQE
    auto-broadcasts it at fixture scale) and scores each pair in one
    codegen stage.  Output byte-identical: distinct-shingle arrays,
    same Jaccard arithmetic, inter > 0 matching the inner
    intersection join's pair-drop semantics.
    """
    lb = F.floor(F.col(len_col).cast("long") / LENGTH_BUCKET_CHARS).cast("long")
    member = df.select(
        id_col,
        lang_col,
        F.explode(F.array(lb, lb + 1)).alias("blk"),
    )
    a = member.select(F.col(id_col).alias("doc_a"), lang_col, "blk")
    b = member.select(F.col(id_col).alias("doc_b"), lang_col, "blk")
    cands = (
        a.join(b, [lang_col, "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # materialize once, then filter — BOTH attaches consume hv, and
    # uncheckpointed the scan → tokenize → shingle lineage evaluates
    # once per consumer (the same pathology _shingle_hash_arrays
    # documents for the hash path; measured ~18% of the key here).
    # One row per doc of strings (~1.6 KB at the 3-gram default) —
    # the bounded signature-table trade again.
    hv = (
        df.select(
            id_col,
            F.array_distinct(shingles(F.col("text"), n)).alias("hv"),
        )
        .localCheckpoint(eager=True)
        .filter(F.size("hv") > 0)
    )
    return _verify_pairs_array(cands, hv, id_col, threshold)


def simhash_band_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    signatures: int = 2,
) -> DataFrame:
    """Candidate pairs from SimHash band collisions over token features:
    docs sharing ANY of the ``signatures * 4`` 16-bit bands.
    Near-linear at scale — the self-join key is (band_idx,
    band_value), a 2^16-ary partition per band, so the pair space is
    Σ bucket² with hash-sized buckets, never n²; extra signatures add
    bands WITHOUT changing per-band bucket sizes (the scale property
    that matters — background collision rate stays 2^-16 per band).

    Recall geometry (quantified round 15, 8-band form LANDED round
    16): a pair whose shingle-set Jaccard is J has SimHash
    bit-disagreement p ≈ θ/π with cos θ ≈ 2J/(1+J), so the any-of-B
    bands match probability is 1 − (1 − (1−p)^16)^B.  The historical
    B=4 single-signature geometry sits at ≈ 0.5 for J ≈ 0.9 pairs
    (p ≈ 0.10) — measured recall vs the exact-verify reference 0.92 /
    0.887 / 0.921 at sf0.01 / sf0.1 / the 50 k-doc bench corpus.  The
    B=8 double-signature default (``signatures=2``) doubles the
    exponent — ≈ 0.78 → 0.95 at J ≈ 0.9 in theory — and measured
    1.0 / 0.965 / 0.976 at the same three scales for ~1.9× candidate
    volume and ~1.5× candidate-stage time (SIMHASH8_r15*.json;
    tools/rowsonly_certificate pins recall ≥ 0.95).  When the
    pipeline needs certified ~100% candidate recall at a J ≥ 0.5 cut,
    use the deterministic banded-MinHash generator
    (:func:`minhash_band_candidates` shape inside
    ``llm_dedup_near_exactverify``): its per-pair miss probability is
    (1−J)^16 ≈ 1e-11 at J = 0.8.  This generator's niche is cost —
    ``signatures`` 8-byte words per doc vs 16 minhash values over
    every shingle.  ``signatures=1`` restores the pre-round-16 4-band
    geometry exactly.
    """
    # Materialize the signature table ONCE before the band self-join:
    # both sides of the (band_idx, band_val) join consume `bands`, and
    # without this the full tokenize → explode → 64·S-column hash agg
    # lineage executes once PER SIDE (exchange reuse does not kick in
    # across the two differently-aliased branches).  One row per doc
    # (signatures + band ints ≈ 100 B at S=2) — the classic LSH
    # signature table, same localCheckpoint trade as
    # _shingle_hash_arrays.  Measured round 13 on the 50 k-doc sf1.0
    # bench corpus: candidates count 4.9 s → 1.7 s, identical output.
    sig = simhash64(
        df, text_col, id_col, n=n, signatures=signatures
    ).localCheckpoint(eager=True)
    bands = sig.select(
        id_col,
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(signatures * 4)])
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(F.col(id_col).alias("doc_a"), "band_idx", "band_val")
    b = bands.select(F.col(id_col).alias("doc_b"), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_banded(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    signatures: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard scored ONLY over SimHash-band candidate
    pairs — the 100 TB shape of :func:`ngram_jaccard_pairs`.

    Candidates come from :func:`simhash_band_candidates` over token
    features (near-dups collide in a band w.h.p.; ``signatures`` is the
    blocking dial — see that docstring's measured trade-offs; the
    ``signatures=2`` 8×16-band default landed round 16 lifts
    candidate recall 0.887 → 0.965 at sf0.1 for ~1.9× candidate
    volume); the exact score then confirms, so precision is always 1
    and only candidate recall is approximate.  Rows-only key (xxhash64
    has no DuckDB twin); recall/precision invariants asserted in
    tests/test_invariants.py and tools/rowsonly_certificate.py
    (recall ≥ 0.95 vs the exact-verify reference).

    The corpus size picks the verify shape: below
    COLLISION_VERIFY_MIN_DOCS docs the array shape, at/above it the
    collision shape — both measured, see the constant.  The doc count
    comes out of the array table's own materialization job, so the
    choice costs no extra action (round 18).  Both shapes produce
    byte-identical output at EVERY threshold including 0.0.

    - Array shape: each candidate pair is joined to the two docs'
      DISTINCT-shingle-hash arrays and scored per-row with
      ``size(array_intersect(...))`` — no exploded intermediate at
      all.  Cost is O(|cand| · shingles/doc) inside one codegen stage;
      the per-row payload is bounded by shingles/doc (~8 B each), the
      right shape whenever docs are bounded (web/LLM corpora).
      Measured round 6 on the sf1.0 bench corpus (3.47 M candidates):
      18.5 s vs 35.7 s for an exploded pair × shingle formulation in
      the same session, at byte-identical output.  Intersections
      compare xxhash64 values, not strings: a cross-doc collision
      inflates one intersection count with p ≈ s²/2⁶⁴ per pair
      (s ≈ shingles/doc — vanishing at any real s).  On DISTRIBUTED
      masters within ``BROADCAST_VERIFY_MAX_DOCS`` the per-doc array
      table is broadcast into both attach joins, so the pair stream
      never re-shuffles; local masters keep the shuffle attach
      (measured faster — no network to save; see
      :func:`_resolve_broadcast_verify`).
    - Collision shape (round 17): arrays ride the band shuffle and
      every collision is scored in-place — no candidate
      materialization, no per-pair array re-shuffle; shuffle volume
      O(docs × bands × array) instead of O(candidates × array × 2).
      The 100 TB shape once candidates × array leave the page cache:
      measured 1.73× over the array shape at 500 k docs / 78.9 M
      candidates (SCALE10_r17.json), slower below the gate where the
      attach exchange is a memcpy.  See :func:`_verify_pairs_collision`.
    """
    hv, n_docs = _shingle_hash_arrays(df, n, id_col)
    if n_docs >= COLLISION_VERIFY_MIN_DOCS:
        return _verify_pairs_collision(df, hv, n, id_col, threshold, signatures)
    cands = simhash_band_candidates(df, id_col=id_col, n=n, signatures=signatures)
    bcast = _resolve_broadcast_verify(df, id_col)
    return _verify_pairs_array(cands, hv, id_col, threshold, broadcast_arrays=bcast)


#: Round cap of :func:`connected_components`.  Pointer jumping converges
#: in O(log diameter) rounds, so 25 covers chains of ~2^25 docs.
CC_MAX_ITER = 25


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Connected components over an undirected pair graph → (v,
    component) with component = min vertex id in the component.

    Min-label propagation PLUS pointer jumping (label ← label of
    label) each round, so convergence is O(log diameter) rounds, not
    O(diameter) — each round is two shuffles (neighbor min + jump
    join).  The driver loop only orchestrates round count via a
    convergence COUNT; all data movement is distributed.  This is the
    cluster step of near-dedup: pairs → components → keep min doc per
    component.  Rounds are capped at :data:`CC_MAX_ITER`; every round's
    labels are checkpointed, which truncates lineage at any scale.
    """
    import warnings

    # Materialize the (possibly expensive — e.g. a full candidate +
    # verify pipeline) pair plan ONCE before symmetrizing: the union
    # reads its input twice, and without this checkpoint both branches
    # recompute the upstream plan inside one job (measured 2× the
    # verify cost on llm_dedup_minhash_e2e).
    ep = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    e = ep.union(ep.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    e = e.localCheckpoint(eager=True)
    comp = (
        e.select(F.col("a").alias("v")).distinct().withColumn("c", F.col("v"))
    ).localCheckpoint(eager=True)
    n_changed = 0
    for _ in range(CC_MAX_ITER):
        nbr_min = (
            e.join(comp.withColumnRenamed("v", "b"), "b")
            .groupBy("a")
            .agg(F.min("c").alias("nc"))
            .withColumnRenamed("a", "v")
        )
        # carry the round's INCOMING label (_oc) through step + jump so
        # convergence is a filter-count on the already-checkpointed
        # frame — the former join-back against `comp` re-shuffled both
        # sides once per round just to count changes (round 13; one
        # join + one exchange per round saved, labels identical)
        stepped = (
            comp.join(nbr_min, "v", "left")
            .select(
                "v",
                F.least(F.col("c"), F.coalesce("nc", "c")).alias("c"),
                F.col("c").alias("_oc"),
            )
        )
        # pointer jumping: c <- comp[c].c
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("v").alias("_cv"), F.col("c").alias("_cc")
                ).alias("p"),
                F.col("s.c") == F.col("_cv"),
                "left",
            )
            .select(
                F.col("s.v").alias("v"),
                F.coalesce("_cc", F.col("s.c")).alias("c"),
                (F.coalesce("_cc", F.col("s.c")) != F.col("s._oc")).alias(
                    "_changed"
                ),
            )
        ).localCheckpoint(eager=True)
        n_changed = jumped.filter("_changed").count()
        comp = jumped.select("v", "c")
        if n_changed == 0:
            break
    else:
        if n_changed:
            # Exhausted the round cap without a zero-change round: labels
            # may be non-converged (split components).  Surface it —
            # silent wrong components are worse than a loud warning.
            warnings.warn(
                f"connected_components: {CC_MAX_ITER} rounds exhausted before "
                f"convergence ({n_changed} labels still changing); returned "
                "components may be split.",
                RuntimeWarning,
                stacklevel=2,
            )
    return comp.select(F.col("v"), F.col("c").alias("component"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MINHASH_PERM,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Deterministic MinHash signatures: ``num_perm`` independent
    minhashes per document, permutation *i* being ``min`` over the
    doc's shingles of ``xxhash64(i, shingle)``.

    All ``num_perm`` minima run in ONE hash aggregation (``num_perm``
    ``min`` columns over the exploded shingle frame), entirely
    JVM-side — map-side combinable, one shuffle on ``id_col``, no
    Python.  Unlike Spark ML's ``MinHashLSH`` this is deterministic
    across runs and sessions (seeded only by the permutation index),
    so downstream plans are replay-stable.

    Docs with fewer than ``shingle_n`` tokens fall back to their
    distinct-token set (same rationale as :func:`minhash_lsh_pairs`);
    fully tokenless docs are dropped.  The fallback serves the
    STANDALONE :func:`minhash_band_candidates` path only: the
    two-stage :func:`minhash_jaccard_verified` pipeline verifies with
    shingle-hash arrays, which exclude sub-shingle docs, so it
    prefilters them before signature computation (see there).

    MAP-ONLY: each shingle STRING is hashed exactly once per row
    (``transform(… xxhash64)``), and every permutation is a cheap
    8-byte re-hash of that long inside ``array_min`` lambdas — no
    explode, and no shuffle beyond the parallelism guard's conditional
    repartition on under-split sources (a no-op at scale); signatures
    materialize inside the scan stage.
    Measured round 6 at sf1.0 (50 k docs × ~190 shingles): 10.5 s
    map-only vs ~17-21 s for the explode + 16-column min-aggregate
    formulation this replaces (which hashed each ~100-byte shingle
    string 16× — 152 M string hashes — and shuffled 9.5 M rows); an
    explode variant that pre-hashes the string once still measured
    18 s (16 hash-agg updates per exploded row dominate), so the
    array form wins even though higher-order lambdas are interpreted,
    and it removes the signature shuffle entirely.  Semantics per seed
    unchanged; VALUES differ from earlier rounds (the permutation hash
    input is now the base long, not the string) — fine for rows-only
    keys, and the oracle-backed exactverify key re-verified at 100%
    fixture recall after the change.
    """
    sh = shingles(F.col(text_col), shingle_n)
    # drop empty-string tokens: split('', ' ') is [''] — without the
    # filter, empty/whitespace docs all collapse to the {''} feature
    # set instead of being dropped as documented
    tok = F.array_distinct(F.array_remove(tokens(F.col(text_col)), ""))
    based = (
        ensure_parallelism(df, id_col)
        .select(
            id_col, F.when(F.size(sh) > 0, sh).otherwise(tok).alias("_sh")
        )
        .filter(F.size("_sh") > 0)
        # min over the multiset == min over the set: no distinct needed.
        .withColumn("_hs", F.transform("_sh", lambda s: F.xxhash64(s)))
    )
    return based.select(
        id_col,
        *[
            F.array_min(
                F.transform("_hs", lambda h: F.xxhash64(F.lit(i), h))
            ).alias(f"mh{i}")
            for i in range(num_perm)
        ],
    )


def minhash_band_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MINHASH_PERM,
    bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Candidate near-dup pairs from banded MinHash collisions, with
    the band/row trade-off exposed: ``rows_per_band = num_perm //
    bands`` and ``P(candidate | Jaccard=J) = 1 − (1 − J^r)^b``.

    ``b=16, r=1`` (the default) is the high-recall dial: a pair with
    J ≥ 0.5 is missed with probability ≤ (1−0.5)^16 ≈ 1.5e-5.
    ``b=4, r=4`` trades recall for far fewer candidates (precision
    dial).  The pair space is Σ bucket² over (band_idx, band_hash)
    buckets — hash-sized buckets, never n², which is what makes banded
    MinHash the standard web-scale near-dedup blocking.

    Scale note: candidate volume is ∝ n² × P(band collision), and with
    r=1 a band collides with probability ≈ J itself — fine when
    background shingle-Jaccard is ≈ 0 (disjoint vocabularies, the
    3-gram default), but on corpora with non-trivial background
    similarity prefer r ≥ 2 (e.g. ``bands=8`` ⇒ P ≈ 1−(1−J²)^8:
    8e-6 at J=0.03, still 0.90 at J=0.5) and accept the recall dial,
    or raise ``num_perm`` to keep both.
    """
    sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    return _band_pairs_from_signatures(sig, id_col, num_perm, bands)


def _signatures_from_hash_arrays(
    hv: DataFrame, id_col: str, num_perm: int, hv_col: str = "hv",
) -> DataFrame:
    """MinHash signatures derived from a precomputed per-doc feature-
    hash array instead of raw text: permutation *i* is ``min`` over
    the array of ``xxhash64(i, h)`` — numerically IDENTICAL to
    :func:`minhash_signatures` on the same docs (min over the distinct
    set equals min over the shingle multiset), but reads ~1.6 KB/doc
    of longs instead of re-running tokenize → shingle → hash, so a
    pipeline that already built the verify arrays gets its candidate
    signatures nearly for free."""
    return hv.select(
        id_col,
        *[
            F.array_min(
                F.transform(hv_col, lambda h: F.xxhash64(F.lit(i), h))
            ).alias(f"mh{i}")
            for i in range(num_perm)
        ],
    )


def _banded_rows(
    sig: DataFrame, id_col: str, num_perm: int, bands: int, out_id: str,
) -> DataFrame:
    """``(out_id, band_idx, band_hash)`` rows from a ``mh0..mh{n-1}``
    signature frame — one row per (doc, band), hash over the band's
    ``r = num_perm // bands`` signature slots.  This IS the band
    index: at 100 TB the corpus side of it is materialized once per
    epoch (partitioned/bucketed on ``band_hash``) and probed by every
    incremental batch; here it is the shared candidate-construction
    half of both the self-join (:func:`_band_pairs_from_signatures`)
    and the batch-vs-corpus probe (:func:`minhash_incremental_admit`),
    so the two band geometries cannot drift."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    r = num_perm // bands
    band_hashes = [
        F.xxhash64(*[F.col(f"mh{b * r + j}") for j in range(r)]).alias(f"bh{b}")
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col).alias(out_id),
        F.posexplode(F.array(*band_hashes)).alias("band_idx", "band_hash"),
    )


def _band_pairs_from_signatures(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """Band-collision candidate pairs from a ``mh0..mh{num_perm-1}``
    signature frame — the join half of :func:`minhash_band_candidates`,
    shared with :func:`minhash_jaccard_verified` so the two candidate
    paths cannot drift."""
    banded = _banded_rows(sig, id_col, num_perm, bands, id_col)
    a = banded.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
    b_ = banded.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash")
    return (
        a.join(b_, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_jaccard_verified(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Two-stage near-dedup mirroring production stacks: banded-MinHash
    candidate pairs (cheap, near-linear; geometry :data:`MINHASH_PERM`
    / :data:`MINHASH_BANDS` over :data:`SHINGLE_N`-gram shingles)
    → EXACT shingle-Jaccard confirmation (no false positives survive).

    The verify stage is candidate-bounded and uses the per-pair
    ``array_intersect`` shape (:func:`_verify_pairs_array` — no
    exploded pair × shingle intermediate; byte-identical scores), with
    the same broadcast auto-gate as :func:`ngram_jaccard_banded`
    (:func:`_resolve_broadcast_verify`): small corpora on distributed
    masters attach the arrays via broadcast-hash joins (no per-pair
    re-shuffle), 100 TB corpora fail the gate closed to the shuffle
    attach.  Output is (doc_a, doc_b, jaccard ≥ threshold) with exact
    4-dp scores — downstream ``connected_components`` + keep-min-id
    completes the dedup.

    Sub-shingle docs (fewer than :data:`SHINGLE_N` tokens) never reach
    signature computation: the materialized shingle-hash-array frame
    drops them (``size(hv) > 0``) and the band signatures derive FROM
    that frame, so no candidate is ever generated for a doc the verify
    stage would discard.

    The per-doc shingle-hash array frame is computed ONCE and
    materialized inside :func:`_shingle_hash_arrays` (see there for
    the size/fault-tolerance budget), then feeds all three consumers:
    the band signatures (via :func:`_signatures_from_hash_arrays` —
    mins over the cached arrays, no text re-read) and both
    verify-side attaches.  Without the materialization the scan →
    tokenize → shingle → hash lineage re-executes once per consumer
    (measured round 8 at sf0.1: the shingle pipeline was ~7 s of the
    key's ~27 s sweep cost, paid 3×; the full key now runs in ~5 s
    warm).
    """
    base = df.select(id_col, F.col(text_col).alias("text"))
    hv, _ = _shingle_hash_arrays(base, SHINGLE_N, id_col)
    sig = _signatures_from_hash_arrays(hv, id_col, MINHASH_PERM)
    cands = _band_pairs_from_signatures(sig, id_col, MINHASH_PERM, MINHASH_BANDS)
    bcast = _resolve_broadcast_verify(df, id_col)
    return _verify_pairs_array(cands, hv, id_col, threshold, broadcast_arrays=bcast)


def minhash_corpus_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTABLE corpus half of the incremental near-dup
    probe (VERDICT r11 #2): ``(hv, banded)`` where ``hv`` is the
    corpus's shingle-hash array frame (``(id, hv)`` — the verify-side
    attach) and ``banded`` its banded-MinHash signature rows
    (``(doc_b, band_idx, band_hash)`` — the probe-side equi-join
    input).  Both are plain DataFrames a caller writes to parquet
    once per corpus epoch — the "materialized once per epoch" index
    :func:`minhash_incremental_admit`'s docstring declares — and
    passes back as ``corpus_index`` so a nightly batch never
    re-tokenizes the corpus.  Derivation goes through the SHARED
    geometry helpers and constants, so a persisted index cannot drift
    from the batch side of the probe."""
    hv_c, _ = _shingle_hash_arrays(
        corpus.select(id_col, text_col), SHINGLE_N, id_col, text_col
    )
    banded_c = _banded_rows(
        _signatures_from_hash_arrays(hv_c, id_col, MINHASH_PERM),
        id_col, MINHASH_PERM, MINHASH_BANDS, "doc_b",
    )
    return hv_c, banded_c


def minhash_incremental_admit(
    batch: DataFrame,
    corpus_index: tuple[DataFrame, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup admission: keep only the ``batch`` docs
    with NO corpus near-duplicate at exact shingle-Jaccard ≥
    ``threshold`` — the nightly job a growing corpus actually runs
    (VERDICT r10 #4), and the banded-MinHash twin of the exact-hash
    anti-join in llm_incremental_dedup.

    ``corpus_index`` is the corpus's :func:`minhash_corpus_index` —
    its shingle-hash array frame and band rows, materialized once per
    corpus epoch — so only the BATCH pays a tokenize pass.  Stages,
    all batch-vs-corpus (never corpus×corpus):

    1. The batch's distinct shingle-hash arrays
       (:func:`_shingle_hash_arrays` — materialized once).
    2. Batch band rows via the SHARED geometry (:func:`_banded_rows`
       at :data:`MINHASH_PERM` / :data:`MINHASH_BANDS`, b=16 r=1 — the
       high-recall dial; a qualifying pair is missed with probability
       ≤ (1−J)^16).  The corpus side is the index's band rows: at
       100 TB they are bucketed on ``band_hash`` and every nightly
       batch probes them with this equi-join.
    3. Candidates = batch band rows ⋈ corpus band rows on
       (band_idx, band_hash), distinct (b_id, c_id) — hash-sized band
       buckets, so candidate volume is collision-bounded, never
       |batch|·|corpus|.
    4. Exact verify through the SHARED scorer
       (:func:`_verify_pairs_array` with the index's arrays as the
       corpus side): banding decides only who gets VERIFIED; a band
       false positive cannot reject a batch doc.
    5. Admission = batch LEFT ANTI join on the ids with a confirmed
       duplicate — the id-only shuffle shape of llm_incremental_dedup.

    Exact duplicates are near-duplicates at J = 1: identical texts
    have identical signatures, collide in EVERY band, and verify at
    jaccard 1.0 — so this operator's rejections are a superset of the
    exact-hash dedup's rejections for any doc with at least one
    shingle (asserted in tests/test_text_ops.py).  Batch docs with no
    corpus band collision are admitted join-free past the verify, and
    sub-shingle docs (no features) are admitted structurally — they
    never enter the signature frame.  Batch and corpus ids must be
    disjoint, as the verify attach assumes.
    """
    hv_c, banded_c = corpus_index
    hv_b, _ = _shingle_hash_arrays(
        batch.select(id_col, text_col), SHINGLE_N, id_col, text_col
    )
    banded_b = _banded_rows(
        _signatures_from_hash_arrays(hv_b, id_col, MINHASH_PERM),
        id_col, MINHASH_PERM, MINHASH_BANDS, "doc_a",
    )
    cands = (
        banded_b.join(banded_c, ["band_idx", "band_hash"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    dup_ids = (
        _verify_pairs_array(cands, hv_b, id_col, threshold, hv_b=hv_c)
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    return batch.join(dup_ids, id_col, "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: float = 0.6,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (Spark ML).

    shingle → HashingTF sparse vector → MinHashLSH signatures →
    approxSimilarityJoin on Jaccard distance.  Randomized even when
    seeded across engines ⇒ rows-only key (no SQL oracle); invariants
    asserted in unit tests.

    Featurization is over :data:`SHINGLE_N`-gram SHINGLE sets, hashed
    into 2^18 HashingTF features with 5 MinHash tables, not raw
    tokens: raw-token sets of natural-language docs share the common
    vocabulary, so token-Jaccard >= (1 - max_distance) holds for a
    quadratic number of pairs and both the LSH buckets and the OUTPUT
    blow up with corpus size (observed: 5k docs never finished).
    Shingle sets are near-disjoint for unrelated docs ⇒ candidate and
    result sizes stay near-linear — the web-scale MinHash contract.

    Docs shorter than :data:`SHINGLE_N` tokens have an empty shingle set;
    they FALL BACK to their distinct-token set so identical very-short
    duplicates are still reported (a short doc can only pair with
    another short doc — shingle and token feature spaces are disjoint
    under the same HashingTF, which is the intended blocking).  Docs
    with no tokens at all never appear in the output: they carry a
    per-doc-unique dummy feature (distance 1.0 to everything w.h.p.)
    rather than being filtered, because MinHashLSH rejects zero
    vectors and Catalyst may evaluate its hash UDF ahead of any
    derived-column filter; since HashingTF folds the dummy into 2^18
    buckets, a bucket collision could still fake a sub-1.0 distance,
    so a final anti-filter on the blank flag (computed from the raw
    text, never the hashed features) makes the drop structural.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # Blank-doc handling: split('', ' ') is [''], so without care every
    # blank-ish doc lands on the identical {''} feature set and pairs
    # with every other at distance 0 — a near-quadratic blowup on
    # corpora with many blank docs.  A filter can't fix this robustly:
    # Catalyst merges it into the same Filter as approxSimilarityJoin's
    # distance predicate and may evaluate the LSH hash UDF first, which
    # rejects the zero vector of an empty token set.  Instead, blank
    # docs get a PER-DOC-UNIQUE dummy token: the vector is valid, and
    # the unique feature set has Jaccard distance 1.0 to everything
    # WITH HIGH PROBABILITY — HashingTF folds the dummy into
    # 2^18 buckets, so a collision with another doc's only
    # feature (or another dummy) can fake distance < 1 at p ≈
    # O(2^-18) per pair (ADVICE r7).  The `_blank` flag below
    # — computed from the raw text, never the hashed features, so no
    # Catalyst reordering can evaluate LSH hashes on it — turns the
    # documented drop contract back into a structural guarantee via a
    # plain post-join filter on both sides.
    sh = shingles(F.col(text_col), SHINGLE_N)
    tok = F.array_distinct(F.array_remove(tokens(F.col(text_col)), ""))
    blank_token = F.array(F.concat(F.lit("\x00blank\x00"), F.col(id_col).cast("string")))
    # Parallelism guard BEFORE featurization: the shingle + HashingTF +
    # minhash work is per-row CPU, and a single-file source scan would
    # run it all on one core (measured r8: the signature pipeline alone
    # was ~9 s single-threaded at sf0.1).
    shingled = ensure_parallelism(df, id_col).select(
        id_col,
        F.when(F.size(sh) > 0, sh)
        .when(F.size(tok) > 0, tok)
        .otherwise(blank_token)
        .alias("_tokens"),
        ((F.size(sh) <= 0) & (F.size(tok) <= 0)).alias("_blank"),
    )
    tf = HashingTF(inputCol="_tokens", outputCol="_features", numFeatures=1 << 18)
    featurized = tf.transform(shingled)
    lsh = MinHashLSH(
        inputCol="_features", outputCol="_sig", numHashTables=5, seed=42
    )
    model = lsh.fit(featurized)  # no data pass — draws hash coefficients only
    # Materialize the signed frame ONCE before the self-join.
    # approxSimilarityJoin explodes both sides per hash table and
    # re-executes each side's lineage; with datasetA == datasetB and
    # an uncached input, the full scan → shingle → HashingTF → minhash
    # pipeline runs ~3× inside one job (measured r8 at sf0.1: 28 s
    # total vs 2.6 s for the join over a materialized frame — the
    # whole key dropped 34 s → ~6 s).  localCheckpoint is bounded:
    # one row per DOC (features + signatures, ~2 KB at the defaults),
    # MEMORY_AND_DISK on executors — the standard LSH-join shape at
    # any scale, and it truncates lineage for the downstream join.
    # ``_tokens`` is dropped first: approxSimilarityJoin's candidate
    # distinct shuffles full row structs, and the raw shingle strings
    # (~8 KB/doc) would quadruple that exchange as dead weight.
    signed = (
        model.transform(featurized).drop("_tokens").localCheckpoint(eager=True)
    )
    pairs = model.approxSimilarityJoin(
        signed, signed, max_distance, distCol="jaccard_dist"
    )
    return (
        pairs.filter(~F.col("datasetA._blank") & ~F.col("datasetB._blank"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
