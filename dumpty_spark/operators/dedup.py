"""Deduplication operators (EXT E1/E2; north-star training-data surface).

Four tiers, each a composition of built-in DataFrame ops (no Python in
the row path):

- **exact** — hash groupBy on the dedup key; ``dedup_keep_first`` keeps a
  deterministic representative with ``min_by(struct)`` (single shuffle,
  no sort, no window skew).
- **n-gram Jaccard** — exact set-similarity self-join on exploded word
  shingles; document-frequency capping removes stop-shingles so the
  shuffle key distribution stays bounded at scale.
- **MinHash + LSH banding** — one explode pass computes all signature
  mins; band hashes bucket-join candidates in O(candidates), then exact
  Jaccard verifies. The standard 100-TB near-dup pipeline shape
  (Broder '97 resemblance sketch, banded as in MMDS ch.3).
- **SimHash** — 64-bit sign-aggregated token hashes; hamming-ball
  candidate pairs via 16-bit chunk banding + ``bit_count`` verify.

Scale notes: every self-join here is preceded by a key-cap (doc-frequency
filter or band bucketing) precisely so the worst key's bucket fits an
executor; AQE's skew-join split is the second line of defense.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dumpty_spark.functions.text import shingles, words


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep one deterministic representative per key group: the row whose
    ``order_cols`` tuple is smallest. groupBy + min_by(struct) — one
    partial-aggregated shuffle, cheaper than a row_number window (which
    must sort every group)."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    ordering = F.struct(*[F.col(c) for c in order_cols])
    kept = df.groupBy(*keys).agg(F.min_by(payload, ordering).alias("_row"))
    return kept.select([F.col(f"_row.{c}").alias(c) for c in df.columns])


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the exploded form shared by
    Jaccard and MinHash. Parallelism floor first: shingling is CPU-bound
    and a small input would otherwise run on one core. The word array is
    materialized in its own projection BEFORE the shingle transform so
    the regex split runs once per doc, not once per shingle (10x at
    sf0.1 — see shingles_from_words)."""
    from dumpty_spark.functions.text import shingles_from_words
    from dumpty_spark.operators.util import ensure_parallelism

    return (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", words(text_col).alias("__w"))
        .select("id", F.explode(shingles_from_words(F.col("__w"), k)).alias("shingle"))
    )


def _sized_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared candidate machinery for the set-overlap measures:
    (a_id, b_id, common, na, nb) with a_id < b_id — the shingle
    self-join with optional stop-shingle capping that Jaccard and
    containment both score. The shingle set is cached for its three
    uses within one measure evaluation (the bench/verify harnesses
    clear caches between queries)."""
    sh = shingle_sets(df, id_col, text_col, k).cache()
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    joinable = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("shingle")
        )
        joinable = sh.join(rare, "shingle")
    a = joinable.select(F.col("id").alias("a_id"), "shingle")
    b = joinable.select(F.col("id").alias("b_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("id").alias("a_id"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("id").alias("b_id"), F.col("n_sh").alias("nb"))
    return common.join(ca, "a_id").join(cb, "b_id")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity self-join.

    ``max_shingle_df`` drops shingles appearing in more than N docs
    (stop-shingles) — at scale this bounds the self-join's per-key fanout
    from O(corpus²) to O(N²) per shingle.
    Returns (a_id, b_id, jac) with a_id < b_id and jac ≥ threshold
    (threshold applied to the ROUNDED 4dp value — oracles mirror this).
    """
    sized = _sized_pair_counts(df, id_col, text_col, k, max_shingle_df)
    return (
        sized.withColumn(
            "jac",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4
            ),
        )
        .filter(F.col("jac") >= threshold)
        .select("a_id", "b_id", "jac")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.85,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT self-join: C(inner→outer) =
    |sh(inner) ∩ sh(outer)| / |sh(inner)| (Broder's containment measure,
    "On the resemblance and containment of documents", SEQUENCES 1997 —
    public literature).

    Jaccard misses the quote/excerpt case: a paragraph pasted into a
    10x-longer document has tiny Jaccard but containment ≈ 1. This is
    the asymmetric relation a corpus build needs to drop sub-documents
    while KEEPING the superset doc — the complement of ``jaccard_pairs``
    for near-dup decisions.

    Same scale shape as jaccard_pairs (the shared ``_sized_pair_counts``
    shingle self-join with ``max_shingle_df`` stop-shingle capping);
    returns directed rows (inner_id, outer_id, containment ≥ threshold,
    applied to the ROUNDED 4dp value), both directions when both pass,
    mutual containment = exact duplicate.
    """
    sized = _sized_pair_counts(df, id_col, text_col, k, max_shingle_df)
    # both directions from ONE pass over the (expensive) pair-count plan:
    # a unionAll of two selects would execute the shingle self-join twice
    both = sized.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a_id").alias("inner_id"),
                    F.col("b_id").alias("outer_id"),
                    F.round(F.col("common") / F.col("na"), 4).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("b_id").alias("inner_id"),
                    F.col("a_id").alias("outer_id"),
                    F.round(F.col("common") / F.col("nb"), 4).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("d")
    ).select("d.inner_id", "d.outer_id", "d.containment")
    return both.filter(F.col("containment") >= threshold)


def _cc_large_small_star(sym: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Distributed CC via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public literature). Returns (labels(id,label), rounds).

    Why a second distributed body: min-label + pointer jumping moves ONE
    label per node per round and shortcuts through label chains — great
    on the clique-ish components of near-dup graphs, but on
    high-diameter graphs its per-round frontier is thin. LS/SS instead
    REWRITES THE EDGE SET each round: large-star hangs every
    larger-than-center neighbor off the neighborhood min (halving long
    chains), small-star flattens the smaller neighbors onto it;
    converges in O(log² n) rounds worst-case and ~log n in practice,
    with each round two groupBy-min aggregations + two key joins — all
    map-side combinable, nothing driver-sized.

    Edge-set convergence test: counts equal AND exceptAll empty — exact,
    one extra shuffle per round (cheap next to the stars themselves).
    At fixpoint every edge is (node, component_min): the star graph IS
    the label assignment.
    """
    # canonical undirected set, no self loops, each edge once
    E = (
        sym.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: for each center u, attach every LARGER neighbor to
        # m(u) = min(Γ(u) ∪ {u}); long chains halve
        s = E.select("u", "v").union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = s.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            s.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient to the larger endpoint; attach each smaller
        # neighbor (and the center) to the neighborhood min
        d = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            d.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
        same = (
            ss.count() == E.count()
            and ss.exceptAll(E.select("u", "v")).limit(1).count() == 0
        )
        E = ss
        if same:
            break
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds"
        )
    # fixpoint stars: (u, v) = (member, component min)
    labels = E.select(F.col("u").alias("id"), F.col("v").alias("label")).union(
        E.select(F.col("v").alias("id"), F.col("v").alias("label"))
    ).distinct()
    return labels, rounds


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 50,
    driver_max_edges: int = 200_000,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, cluster_id)
    with cluster_id = the smallest member id. The step AFTER pair
    generation in every dedup pipeline: pairs only say "a~b"; keeping one
    doc per transitive group needs the component.

    Three distributed bodies behind one API (``algorithm``):

    - ``"minlabel"`` — min-label propagation + pointer jumping: each
      round one shuffle join (edges ⋈ labels) + partial-aggregated min.
      Fast on the clique-ish components near-dup graphs produce, but
      round count degrades badly when component diameter is high AND
      ids are shuffled relative to topology (measured: 1500 rounds on a
      2003-node id-permuted path — pointer jumps buy nothing there).
    - ``"star"`` — alternating large-star/small-star edge rewriting
      (Kiveris et al., SoCC'14): O(log² n) rounds independent of id
      order (12 rounds on that same permuted path). Costlier per round
      (two groupBys + exact edge-set convergence check).
    - ``"auto"`` (default) — min-label for up to 12 rounds, then falls
      back to star if unconverged: clique-ish graphs keep the cheap
      path, adversarial graphs get the bounded one.

    Scale notes: no collect, nothing driver-side but the per-round
    convergence count. ``localCheckpoint`` after every round truncates
    the lineage so round N's plan doesn't replay rounds 1..N-1 (the
    classic iterative-DataFrame trap).
    """
    # validate BEFORE the regime gate: a typo'd algorithm (or an explicit
    # "star"/"minlabel" request) must behave identically on small graphs,
    # not be silently absorbed by the driver path
    if algorithm not in ("auto", "minlabel", "star"):
        raise ValueError(f"unknown CC algorithm: {algorithm}")
    # an explicitly requested distributed body disables the driver gate —
    # the caller asked for that algorithm, not for union-find
    if algorithm != "auto":
        driver_max_edges = 0
    # materialize the CANONICAL edge list ONCE — it's referenced (via the
    # symmetrized view below) by every round's join, and without this the
    # (possibly expensive) pair-generation plan upstream of ``edges``
    # would re-execute per round (measured 5x on the Jaccard pair graph
    # at sf0.1). Checkpointing before the 2x union instead of after it
    # (r11 optimization, guide §2.3: shuffle/materialize fewer bytes)
    # halves the materialized rows; the union is pure map-side lineage
    # over cached blocks, free to re-evaluate per round.
    base = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint()
    sym = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Two-regime execution, same broadcast-vs-shuffle logic Spark itself
    # applies by size: the candidate-pair graph of a dedup pipeline is
    # orders of magnitude smaller than the corpus (it holds only
    # near-duplicate PAIRS), so when it fits the driver comfortably a
    # single union-find pass replaces O(diameter) distributed rounds of
    # per-round job overhead. The distributed min-label loop below stays
    # the path for genuinely huge pair graphs (and is forced in tests
    # via driver_max_edges=0). Identical output either way: cluster_id =
    # min member id, asserted by the same oracles.
    from dumpty_spark.operators import telemetry

    n_sym = 2 * base.count()  # cheap: base is checkpointed
    if telemetry.two_regime("connected_components", n_sym, 2 * driver_max_edges):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # union-find over the canonical pairs only: union(a,b) and
        # union(b,a) are the same operation, so collecting half the rows
        # reaches the identical min-root forest
        for row in base.collect():
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root is the smallest member —
                # the same label the distributed loop converges to
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        spark = edges.sparkSession
        return spark.createDataFrame(
            rows, schema=base.select(F.col("src").alias("id")).schema.add(
                "cluster_id", base.schema["src"].dataType
            )
        )
    telemetry.LAST["connected_components"]["algorithm"] = algorithm

    def _star_result() -> DataFrame:
        star_labels, rounds = _cc_large_small_star(sym, max_iter)
        telemetry.LAST["connected_components"]["rounds"] = rounds
        # nodes lost to self-loop filtering label themselves
        all_nodes = sym.select(F.col("src").alias("id")).distinct()
        return (
            all_nodes.join(star_labels, "id", "left")
            .select("id", F.coalesce("label", "id").alias("cluster_id"))
        )

    if algorithm == "star":
        return _star_result()
    if algorithm not in ("minlabel", "auto"):
        raise ValueError(f"unknown CC algorithm: {algorithm}")
    # auto: min-label + pointer jumping wins on the clique-ish components
    # near-dup graphs actually produce (few rounds, cheapest round body),
    # but its convergence is O(diameter/round-progress) — measured 1500
    # rounds on a 2003-node id-permuted path, where pointer jumps buy
    # almost nothing because labels don't chain. Give it a bounded head
    # start, then hand unconverged graphs to large-star/small-star, whose
    # O(log² n) bound is id-order-independent.
    minlabel_cap = max_iter if algorithm == "minlabel" else min(12, max_iter)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for _round in range(minlabel_cap):
        nbr_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.nid, "left").select(
            "id",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "label"
            ),
        )
        # pointer jump (shortcutting): follow one's label to ITS label —
        # a label is always some node's id, so self-joining resolves two
        # hops per round and convergence drops from O(diameter) to
        # O(log diameter) rounds on chain-shaped components; each round
        # is a fixed small number of jobs, so rounds are the cost driver
        new = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("id").alias("pid"), F.col("label").alias("plabel")
                ),
                F.col("a.label") == F.col("pid"),
                "left",
            )
            .select(
                "id",
                "a.old_label",
                F.least(
                    F.col("label"), F.coalesce("plabel", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # convergence test reads the carried-through old label — no extra
        # shuffle join against the previous round's frame
        changed = new.filter(F.col("label") != F.col("old_label")).count()
        labels = new.select("id", "label")
        telemetry.LAST["connected_components"]["rounds"] = _round + 1
        if changed == 0:
            break
    else:
        if algorithm == "auto":
            # high-diameter/permuted-id graph: min-label is the wrong
            # tool — switch to the star rounds (fresh start: its edge
            # rewriting doesn't compose with partial labels)
            telemetry.LAST["connected_components"]["algorithm"] = "star-fallback"
            telemetry.LAST["connected_components"]["minlabel_rounds"] = minlabel_cap
            return _star_result()
        # returning partially-propagated labels would silently split one
        # transitive component into several "clusters" downstream
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime) — universal-hash modulus


def minhash_params(num_hashes: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients via an LCG —
    plain arithmetic so the SAME constants can be embedded in a DuckDB
    oracle. h_i(x) = (a_i·x + b_i) mod P with x < P keeps every product
    under 2^62: no 64-bit overflow in either engine."""
    x = seed
    params = []
    for _ in range(num_hashes):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = 1 + x % (MINHASH_P - 1)
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % MINHASH_P
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    k: int = 3,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash sketch: sig[i] = min over shingles of (a_i·h + b_i) mod P,
    h = first 60 bits of md5(shingle).

    ONE md5 per shingle (materialized once — the 32 h_i are cheap
    arithmetic on it, not 32 hash calls) + ONE groupBy computing all
    mins as parallel aggregate expressions. Entirely JVM-side, and —
    unlike xxhash64 — every step is reproducible in ANSI SQL, so the
    whole LSH pipeline gets a DuckDB oracle. ``_sh`` lets a caller share
    an already-computed (cached) shingle set."""
    sh = _sh if _sh is not None else shingle_sets(df, id_col, text_col, k)
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast(
        "long"
    ) % F.lit(MINHASH_P)
    hashed = sh.select("id", base.alias("hb"))
    aggs = [
        F.min((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    sig = hashed.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_band_hashes(sig: Column, num_hashes: int, bands: int) -> Column:
    """Banded LSH keys from a minhash signature array: md5 over each
    band's ``num_hashes/bands`` consecutive sketch values. One shared
    definition — the in-flight pair join and the at-rest incremental
    store MUST derive identical band keys or cross-run candidates are
    silently lost."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        sig[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """E2: banded-LSH candidate generation + exact-Jaccard verification.

    bands=8 × rows=4 over 32 hashes → candidate-capture probability
    1-(1-s⁴)⁸ (≈0.99+ at s=0.8). Candidates bucket-join on
    (band_idx, band_hash) — no quadratic pair enumeration ever happens.
    """
    # ONE shingle pass feeds both the sketch and the verification join
    sh = shingle_sets(df, id_col, text_col, k).cache()
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k, _sh=sh)
    banded = sig.select(
        "id",
        F.posexplode(minhash_band_hashes(F.col("sig"), num_hashes, bands)).alias(
            "band_idx", "band_hash"
        ),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_idx", "band_hash"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .distinct()
    )
    # verify candidates with exact Jaccard over the SAME cached shingle set
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("id").alias("a_id"), "shingle")
    b = sh.select(F.col("id").alias("b_id"), "shingle")
    common = (
        a.join(cand, "a_id")
        .join(b, ["shingle", "b_id"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("id").alias("a_id"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("id").alias("b_id"), F.col("n_sh").alias("nb"))
    return (
        common.join(ca, "a_id")
        .join(cb, "b_id")
        .withColumn(
            "jac",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4),
        )
        .filter(F.col("jac") >= threshold)
        .select("a_id", "b_id", "jac")
    )


def simhash_chunks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash as 4×16-bit chunks: sum ±1 per bit over token
    hashes, sign → bit; bit j of chunk c is global bit 16c+j.

    Token bits come from md5 (bits 0–59 from md5(t), 60–63 from
    md5('#'+t)) — portable arithmetic both Spark and an ANSI-SQL oracle
    can reproduce, unlike xxhash64. One explode + one groupBy with 64
    conditional-sum aggregates; the chunked form is exactly what the
    pigeonhole banding join needs, and avoids signed-overflow traps at
    bit 63 that a single 64-bit long would hit in SQL engines."""
    from dumpty_spark.operators.util import ensure_parallelism

    # materialize the token hashes ONCE per row — h1/h2 are referenced by
    # all 64 aggregate expressions and would otherwise be recomputed per
    # aggregate (same expression-duplication class as the shingle
    # transform fix, see shingles_from_words)
    tok = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(words(text_col)).alias("t"))
        .select(
            "id",
            F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h1"),
            F.conv(
                F.substring(F.md5(F.concat(F.lit("#"), F.col("t"))), 1, 15), 16, 10
            )
            .cast("long")
            .alias("h2"),
        )
    )

    def bit(i: int):
        src, off = (F.col("h1"), i) if i < 60 else (F.col("h2"), i - 60)
        return F.shiftrightunsigned(src, off).bitwiseAND(F.lit(1))

    aggs = [
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}") for i in range(64)
    ]
    sums = tok.groupBy("id").agg(*aggs)
    chunk_cols = []
    for c in range(4):
        chunk = None
        for j in range(16):
            term = F.when(F.col(f"b{16 * c + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            chunk = term if chunk is None else chunk + term
        chunk_cols.append(chunk.cast("int").alias(f"c{c}"))
    return sums.select("id", *chunk_cols)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """Single-long 64-bit SimHash (chunk 3 carries the sign bit) —
    convenience view over simhash_chunks for consumers that want one
    comparable value."""
    ch = simhash_chunks(df, id_col, text_col)
    sim = None
    for c in range(4):
        # shiftleft keeps the arithmetic JVM-side — c3<<48 wraps bit 63
        # into the long's sign bit, while a Python literal 1<<63 would
        # overflow py4j's signed long
        term = F.shiftleft(F.col(f"c{c}").cast("long"), 16 * c)
        sim = term if sim is None else sim.bitwiseOR(term)
    return ch.select("id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole banding: split 64 bits into 4 × 16-bit chunks — any pair
    within hamming 3 must agree on ≥1 chunk, so candidates come from 4
    bucket-joins, never a cross join. Verify with bit_count(xor)."""
    sig = simhash_chunks(df, id_col, text_col).cache()
    chunks = sig.select(
        "id",
        *[f"c{c}" for c in range(4)],
        F.posexplode(F.array(*[F.col(f"c{c}") for c in range(4)])).alias(
            "chunk_idx", "chunk_val"
        ),
    )
    # hamming is a pure function of the pair (each id's chunk values are
    # fixed), so verify BEFORE deduplicating band collisions: the
    # map-side filter drops non-matching pairs ahead of the distinct's
    # exchange, which then shuffles only surviving (a_id, b_id, hamming)
    # triples instead of every collision carrying all 8 chunk payloads
    # (guide §2.3 — shuffle fewer bytes; same surviving set either way)
    hamming = None
    for c in range(4):
        term = F.bit_count(F.col(f"x.c{c}").bitwiseXOR(F.col(f"y.c{c}")))
        hamming = term if hamming is None else hamming + term
    return (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_idx", "chunk_val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a_id"),
            F.col("y.id").alias("b_id"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def srp_signature_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Signed-random-projection sketch, banded for LSH bucketing:
    (id, band_idx, band_sig) rows.

    Hyperplanes are deterministic Rademacher (+/-1) rows seeded on the
    driver and folded into the plan as literals, so every executor and
    every run hashes identically. Each bit is one codegen'd
    zip_with+aggregate pass; P[bit agrees] = 1 - angle/pi (Charikar '02),
    so near-identical vectors collide in some band w.h.p.
    """
    import numpy as np

    from dumpty_spark.functions.vectors import as_double
    from dumpty_spark.operators.util import ensure_parallelism

    dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.choice((-1.0, 1.0), size=(bits, dim))
    rows_per_band = bits // bands

    v = as_double(vec_col)
    bit_cols = [
        (
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(x) for x in planes[b]]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("int")
        for b in range(bits)
    ]
    sig = ensure_parallelism(df.select(F.col(id_col).alias("id"), v.alias(vec_col))).select(
        "id",
        *[
            F.concat_ws(
                "", *[bit_cols[band * rows_per_band + r].cast("string") for r in range(rows_per_band)]
            ).alias(f"band{band}")
            for band in range(bands)
        ],
    )
    return sig.select(
        "id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "band_sig"
        ),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_col: str | None = None,
    bits: int = 16,
    bands: int = 8,
) -> DataFrame:
    """E2 embedding-cosine near-dup: (a_id, b_id, sim) pairs with exact
    cosine >= threshold, candidate-generated WITHOUT a full self-join.

    Two candidate strategies, both ending in the same exact verify:

    - ``block_col`` given -> blocking on metadata (label/source/language):
      the classic record-linkage prefilter; the self-join key is the
      block, so pair count is sum(block^2), not n^2.
    - otherwise -> SRP-LSH banding (srp_signature_bands): candidates are
      ids colliding in >=1 band. For genuinely-near duplicates
      (cos >= ~0.9) band-collision probability is ~1; at 100 TB this is
      the only shape that works - the bucket join is linear in
      collisions and AQE splits any hot bucket.
    """
    from dumpty_spark.functions.vectors import as_double, dot, normalize

    # Normalize each vector ONCE before the pair join: the per-pair work
    # drops from 3 array passes (dot + 2 norms) to a single dot product —
    # at N² candidate pairs that's the whole cost of the verify stage.
    from dumpty_spark.operators.util import ensure_parallelism

    ids = F.col(id_col)
    nv = normalize(as_double(F.col(vec_col)))
    if block_col is not None:
        # Stream side a partition-parallel, broadcast side b: join
        # parallelism is a's partition count regardless of how few
        # distinct blocks exist (a shuffle join on a low-cardinality
        # block key would cap parallelism at n_blocks and skew).
        a = ensure_parallelism(
            df.select(ids.alias("a_id"), nv.alias("a_vec"), F.col(block_col).alias("_blk"))
        )
        b = df.select(ids.alias("b_id"), nv.alias("b_vec"), F.col(block_col).alias("_blk"))
        cand = a.join(F.broadcast(b), "_blk").filter(F.col("a_id") < F.col("b_id"))
    else:
        bandrows = srp_signature_bands(df, id_col, vec_col, bits=bits, bands=bands)
        pairs = (
            bandrows.alias("x")
            .join(bandrows.alias("y"), ["band_idx", "band_sig"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
            .distinct()
        )
        va = df.select(ids.alias("a_id"), nv.alias("a_vec"))
        vb = df.select(ids.alias("b_id"), nv.alias("b_vec"))
        cand = pairs.join(va, "a_id").join(vb, "b_id")

    sim = dot(F.col("a_vec"), F.col("b_vec"))
    return (
        cand.withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .select("a_id", "b_id", F.round("_sim", 4).alias("sim"))
    )


def incremental_dedup(
    spark,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-RUN exact dedup against a fingerprint store at rest: emit
    only documents whose content fingerprint (md5 of normalized text,
    functions/text.py) has never been seen in any earlier batch, then
    append the new fingerprints. The batch analog of
    ``dropDuplicatesWithinWatermark`` with unbounded state — and the
    dedup counterpart of the reference's table-level high-water-mark
    incrementality (src/dumpty/main.py:88-100: state survives runs,
    each run processes only the delta).

    Within the batch, ties collapse to the smallest id (min_by — one
    partial-aggregated shuffle; a NULL text is one content group like any
    other). Against history, survival is a NULL-SAFE left-anti join on
    the fingerprint — plain equality would re-admit every null-text doc
    forever (NULL never equals NULL) and grow the store unboundedly.

    Scale notes: the store is parquet partitioned by the fingerprint's
    first hex char, and the history read is FILTERED to the batch's
    distinct prefixes (≤17 partition values collected driver-side) — a
    small batch scans only the matching slices of the store, not all of
    it. Appends never rewrite existing files; at 100 TB the store bucket
    count just grows (2-char prefix → 256). A single writer per store is
    assumed, exactly like the reference's TinyDB (README.md:45).
    """
    import os

    from dumpty_spark.functions.text import fingerprint

    stamped = new_docs.withColumn("_fp", fingerprint(text_col))
    batch_unique = dedup_keep_first(stamped, ["_fp"], [id_col])

    cells = os.path.join(store_dir, "fingerprints")
    if os.path.isdir(cells):
        pfx = [
            r["_pfx"]
            for r in stamped.select(
                F.substring("_fp", 1, 1).alias("_pfx")
            )
            .distinct()
            .collect()
        ]
        keep = F.col("_pfx").isin([p for p in pfx if p is not None])
        if any(p is None for p in pfx):
            keep = keep | F.col("_pfx").isNull()
        seen = (
            spark.read.parquet(cells)
            .filter(keep)
            .select(F.col("_fp").alias("_seen_fp"))
        )
        survivors = batch_unique.join(
            seen, batch_unique["_fp"].eqNullSafe(seen["_seen_fp"]), "left_anti"
        )
    else:
        survivors = batch_unique
    # localCheckpoint: the append below must not re-evaluate the
    # anti-join AFTER its own writes land (self-referential lineage)
    survivors = survivors.localCheckpoint()
    (
        survivors.select("_fp", F.substring("_fp", 1, 1).alias("_pfx"))
        .write.mode("append")
        .partitionBy("_pfx")
        .parquet(cells)
    )
    return survivors.drop("_fp")


def _sig_agreement(a: Column, b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard from two minhash signatures: the fraction of
    agreeing sketch positions (the estimator LSH is built on)."""
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(num_hashes)


def incremental_near_dedup(
    spark,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-RUN NEAR-dup dedup against a MinHash store at rest — the
    fuzzy counterpart of :func:`incremental_dedup` (which only catches
    byte-identical content). Each batch: sketch → LSH-candidate against
    BOTH the batch itself and every earlier batch's signatures → suppress
    docs whose signature-estimated Jaccard ≥ ``threshold`` against an
    earlier doc (earlier batch, or smaller id within the batch) → append
    only the survivors' sketches to the store.

    Verification uses the SIGNATURE estimator (fraction of agreeing
    sketch positions), not exact shingle Jaccard: the store keeps
    ``num_hashes`` longs per doc, never the text, so history never has to
    be re-read or re-shingled — that is what makes the operator viable
    when history is 100 TB. Precision is the estimator's (σ ≈
    √(s(1-s)/32) ≈ 0.07 at s=0.8): tighten with more hashes, not by
    storing text.

    Store layout (parquet):
      - ``bands/`` rows (band_idx, band_hash, id) partitioned by ``_pfx``
        = first hex char of band_hash — the history side of the candidate
        join is partition-PRUNED to the batch's own prefixes (collected
        driver-side, ≤17 values), so a small batch reads a small slice of
        an arbitrarily large store.
      - ``sigs/`` rows (id, sig) — joined only for the candidate ids.
    Appends never rewrite files; single writer per store assumed, like
    the reference's TinyDB state (README.md:45).
    """
    import os

    sig = minhash_signatures(new_docs, id_col, text_col, num_hashes, k)
    sig = sig.localCheckpoint()  # one sketch pass; reused 4×
    banded = sig.select(
        "id",
        F.posexplode(minhash_band_hashes(F.col("sig"), num_hashes, bands)).alias(
            "band_idx", "band_hash"
        ),
    )

    # --- batch-internal candidates: smaller id wins
    cand_in = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_idx", "band_hash"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("y.id").alias("id"), F.col("x.id").alias("prior_id"))
        .distinct()
    )

    # --- cross-run candidates: anything in the store is prior
    bands_path = os.path.join(store_dir, "bands")
    sigs_path = os.path.join(store_dir, "sigs")
    if os.path.isdir(bands_path):
        pfx = [
            r["_pfx"]
            for r in banded.select(
                F.substring("band_hash", 1, 1).alias("_pfx")
            )
            .distinct()
            .collect()
        ]
        hist_bands = (
            spark.read.parquet(bands_path)
            .filter(F.col("_pfx").isin(pfx))
            .select("band_idx", "band_hash", F.col("id").alias("prior_id"))
        )
        cand_hist = (
            banded.join(hist_bands, ["band_idx", "band_hash"])
            .select("id", "prior_id")
            .distinct()
        )
        hist_sigs = spark.read.parquet(sigs_path).select(
            F.col("id").alias("prior_id"), F.col("sig").alias("prior_sig")
        )
        ver_hist = (
            cand_hist.join(sig, "id")
            .join(hist_sigs, "prior_id")
            .filter(
                _sig_agreement(F.col("sig"), F.col("prior_sig"), num_hashes)
                >= threshold
            )
            .select("id")
        )
    else:
        ver_hist = None

    prior_sig_in = sig.select(
        F.col("id").alias("prior_id"), F.col("sig").alias("prior_sig")
    )
    ver_in = (
        cand_in.join(sig, "id")
        .join(prior_sig_in, "prior_id")
        .filter(
            _sig_agreement(F.col("sig"), F.col("prior_sig"), num_hashes)
            >= threshold
        )
        .select("id")
    )
    suppressed = ver_in if ver_hist is None else ver_in.union(ver_hist)

    # materialize the (small) suppressed-id set ONCE (r11 optimization,
    # guide §2.4 — it replaces two checkpoints of doc-sized frames):
    # everything downstream — survivors, the sig/band appends — is an
    # anti-join against this frame plus the already-checkpointed sig, so
    # nothing can replay the candidate join, and CRUCIALLY the set is
    # pinned BEFORE this batch's own appends (a lazy `suppressed` would
    # re-read the store after the writes and see the batch's own bands).
    supp = suppressed.distinct().localCheckpoint()
    survivors = new_docs.join(
        supp.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )

    # the two store appends are independent of each other (different
    # directories, both derived from the checkpointed sig ⟕ supp) —
    # overlap them on driver threads (guide §2.6) so the second write's
    # planning/commit latency hides inside the first's task tail
    from dumpty_spark.operators.util import run_overlapped

    surv_sig = sig.join(supp, "id", "left_anti")

    def _write_sigs():
        surv_sig.write.mode("append").parquet(sigs_path)

    def _write_bands():
        (
            surv_sig.select(
                "id",
                F.posexplode(
                    minhash_band_hashes(F.col("sig"), num_hashes, bands)
                ).alias("band_idx", "band_hash"),
            )
            .withColumn("_pfx", F.substring("band_hash", 1, 1))
            .write.mode("append")
            .partitionBy("_pfx")
            .parquet(bands_path)
        )

    run_overlapped(sig.sparkSession, [_write_sigs, _write_bands])
    return survivors


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (the within/cross-doc
    repeated-passage pass of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", re-expressed relationally): find every
    word k-gram that occurs more than once ANYWHERE in the corpus, merge
    a doc's duplicated gram starts into maximal token spans, and score
    each doc by the fraction of its tokens covered by such spans.

    Returns (id, n_dup_spans, dup_tokens, n_tokens, dup_fraction) for
    every input doc (zero-span docs included; dup_fraction NULL for
    empty docs).

    Relational plan instead of the paper's suffix array:
      1. grams: per doc, positions 1..n-k+1 exploded with a 64-bit
         fingerprint (md5 prefix) of the k-gram — tokens×1 rows, the
         dominant shuffle at 100 TB. Map-side generated; 16 hex chars
         keep the exchange half the width of full md5 at a collision
         rate (~2^-64 per pair) irrelevant for dedup scoring.
      2. dup grams: count>1 per fingerprint (partial-agg shuffle on the
         fingerprint), semi-joined back — both shuffles hash-partition
         on the same key so AQE coalesces them; skewed boilerplate
         grams (count in the millions) cost only their count row, never
         a pair explosion.
      3. islands: per-doc sort of its duplicated starts (bounded by doc
         length), gaps-and-islands with break at gap > k (disjoint
         token windows), covered = max-min+k per island.
    """
    base = df.select(F.col(id_col).alias("id"), words(text_col).alias("w"))
    toks = base.select("id", F.size("w").alias("n_tokens"))
    grams = (
        base.filter(F.size("w") >= k)
        .select(
            "id",
            "w",
            F.explode(
                F.sequence(F.lit(1), F.size("w") - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            "id",
            "pos",
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(F.col("w"), F.col("pos"), k))), 1, 16
            ).alias("h"),
        )
    )
    dup = grams.groupBy("h").count().filter(F.col("count") > 1).select("h")
    flagged = grams.join(dup, "h", "left_semi")

    from pyspark.sql import Window

    w_doc = Window.partitionBy("id").orderBy("pos")
    isl = (
        flagged.withColumn("prev", F.lag("pos").over(w_doc))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w_doc))
    )
    spans = isl.groupBy("id", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("covered")
    )
    per_doc = spans.groupBy("id").agg(
        F.count("*").alias("n_dup_spans"), F.sum("covered").alias("dup_tokens")
    )
    dup_tok = F.coalesce("dup_tokens", F.lit(0))
    return toks.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        dup_tok.alias("dup_tokens"),
        "n_tokens",
        F.round(
            dup_tok * F.lit(1.0) / F.nullif(F.col("n_tokens"), F.lit(0)), 6
        ).alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# EXT E71: exact set-similarity join via positional prefix filtering
# (Chaudhuri/Ganti/Kaushik ICDE'06 SSJoin; Xiao et al. WWW'08 PPJoin —
# public literature). Reference parity: none (the reference delegates all
# relational work); this is the engine's third near-dup candidate
# generator, and the only one that is COMPLETE: unlike LSH (probabilistic
# recall) and df-capped shingle joins (drops stop-shingle evidence), the
# prefix filter provably generates a superset of every pair with
# Jaccard >= tau, then verifies exactly.
# ---------------------------------------------------------------------------


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact k-gram Jaccard pairs >= ``threshold`` with prefix-filtered
    candidate generation.

    Shingles are canonically ordered by (global document frequency,
    shingle) — rarest first — and only each document's PREFIX (its
    ``n - ceil(tau*n) + 1`` rarest shingles) participates in the
    candidate self-join. Completeness: Jaccard >= tau implies overlap
    o >= tau * max(|x|,|y|) >= ceil(tau*|x|), and a pair with overlap
    >= a must collide within the first ``|x|-a+1`` tokens of BOTH sets
    under any shared total order (prefix-filtering lemma) — so no
    qualifying pair is missed. At scale the join fanout concentrates on
    RARE shingles (frequent shingles sit at the tail of the order and
    rarely make a prefix), inverting the hot-key profile of the naive
    shingle self-join.

    Returns (a_id, b_id, jac), a_id < b_id, jac rounded to 4dp.
    """
    tau = threshold
    sh = shingle_sets(df, id_col, text_col, k).localCheckpoint()
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    # rank each doc's shingles rarest-first and emit ONLY the prefix:
    # one groupBy(id) with a sorted-struct collect beats two ranking
    # windows (one shuffle instead of a sort-shuffle + a second window
    # pass); per-doc arrays are doc-sized, so collect_list is safe
    # 1e-9 slack before ceil, same safe direction as the alpha/length
    # filters below: if tau*n lands a hair ABOVE the exact integer under
    # float arithmetic (e.g. tau=0.545, n=200 → 109.00000000000001), a
    # bare ceil would shorten the prefix by one token and silently drop
    # qualifying pairs; undershooting only ENLARGES the prefix, which
    # preserves the completeness guarantee at the cost of a few extra
    # candidates
    plen = (
        F.col("n") - F.ceil(F.lit(tau) * F.col("n") - F.lit(1e-9)) + 1
    ).cast("int")
    pre = (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df_", "shingle"))
            ).alias("arr"),
            F.count("*").alias("n"),
        )
        .select(
            "id",
            "n",
            F.posexplode(F.slice("arr", 1, plen)).alias("pos0", "t"),
        )
    )
    prefix = pre.select(
        "id", F.col("t.shingle").alias("shingle"),
        (F.col("pos0") + 1).alias("pos"), "n",
    )
    # candidate pruning, both filters exactness-preserving (PPJoin):
    #  - length filter: J >= tau forces min(|x|,|y|) >= tau*max(|x|,|y|)
    #  - positional filter: the smallest common token under the global
    #    order sits at position min(pos) in BOTH sorted sets at once, so
    #    overlap <= 1 + min(n_a - pa_min, n_b - pb_min); prune pairs
    #    whose bound misses alpha = ceil(tau/(1+tau) * (n_a+n_b)), the
    #    overlap J >= tau requires. The 1e-9 slack keeps float ceil from
    #    over-pruning at exact-integer boundaries (safe direction).
    a = prefix.select(
        F.col("id").alias("a_id"), "shingle",
        F.col("pos").alias("pa"), F.col("n").alias("na"),
    )
    b = prefix.select(
        F.col("id").alias("b_id"), "shingle",
        F.col("pos").alias("pb"), F.col("n").alias("nb"),
    )
    alpha = F.ceil(
        F.lit(tau / (1.0 + tau)) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.min("pa").alias("pa_min"), F.min("pb").alias("pb_min"))
        .filter(
            F.least("na", "nb")
            >= F.lit(tau) * F.greatest("na", "nb") - F.lit(1e-9)
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("na") - F.col("pa_min"), F.col("nb") - F.col("pb_min")
            )
            >= alpha
        )
        .select("a_id", "b_id")
    )
    # NEGATIVE RESULT (r12, recorded so the next round does not re-try):
    # localCheckpointing `prefix` and/or `cand` to deduplicate their
    # many plan reuses measured SLOWER in same-window A/B/A (orig 4.56s
    # vs cand-ckpt 5.35s vs both-ckpt 4.89s solo min-of-3): every reuse
    # is a broadcast join over the already-cached `sh`, so the
    # "duplicated" work is cheap, while each checkpoint adds an eager
    # action + materialization. At real scale the trade may reverse —
    # revisit only with a large-SF measurement in hand.
    # verification: candidate-bounded — only docs that appear in some
    # candidate pair ship their full shingle sets into the verify joins
    # (a semi-join reduction; AQE broadcasts the id list when small),
    # never the corpus-wide shingle self-join
    ids = (
        cand.select(F.col("a_id").alias("id"))
        .unionAll(cand.select(F.col("b_id").alias("id")))
        .distinct()
    )
    sh_c = sh.join(ids, "id")
    common = (
        cand.join(sh_c.select(F.col("id").alias("a_id"), "shingle"), "a_id")
        .join(sh_c.select(F.col("id").alias("b_id"), "shingle"), ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("common"))
    )
    counts = sh_c.groupBy("id").agg(F.count("*").alias("n_sh"))
    return (
        common.join(counts.select(F.col("id").alias("a_id"), F.col("n_sh").alias("na")), "a_id")
        .join(counts.select(F.col("id").alias("b_id"), F.col("n_sh").alias("nb")), "b_id")
        .withColumn(
            "jac",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4),
        )
        .filter(F.col("jac") >= tau)
        .select("a_id", "b_id", "jac")
    )
