"""Greedy sequence packing for LLM training pipelines.

Training consumes fixed-size context windows; feeding one short document per
window wastes most of the budget. The standard fix is next-fit packing:
walk documents in a deterministic order, accumulate until the next document
would overflow the budget, then start a new bin (documents are never split;
an oversized document gets its own bin — the tokenizer-side truncation is a
separate, model-specific concern).

The fold is sequential, so the scalable shape is packing WITHIN deterministic
groups (id mod n_groups): each group folds independently in an
applyInPandas (one Arrow batch stream per group, no global order barrier),
and a bin is identified by (pack_group, bin_idx). Group count tunes the
parallelism/packing-efficiency trade: more groups = more parallelism, a few
more partially-filled final bins (one per group). Fully deterministic, so a
re-run or retry packs identically — and the DuckDB oracle (q57) replays the
same fold as a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonify2ai_spark.functions.vectors import vec_lit

# purge sets up to this size ride the literal-InSet membership path in
# purge_packed_bins; larger sets switch to the broadcast-hash-set Arrow
# probe (crossover measured between 100 and 1000 ids at sf0.1 — literal
# analysis cost grows ~0.9 s per 1000 ids)
_PURGE_INSET_MAX = 128


def pack_sequences(
    df: DataFrame,
    budget: int,
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    n_groups: int = 32,
    strategy: str = "nextfit",
    group_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Assign each row to (pack_group, bin_idx) by ``strategy`` within
    ``id % n_groups`` groups. One shuffle (the groupBy); the fold runs
    Arrow-batched per group.

    ``group_col``: pack within a CALLER-SUPPLIED grouping column instead
    of the id-derived one (``n_groups`` is then ignored) — the hook for
    semantically-informed layouts (:func:`semantic_pack_groups`, r13)
    where "which documents share a bin" is itself a modeling choice.
    Same determinism and oracle story: the fold is unchanged, only the
    group key differs.

    ``order_col``: next-fit walks each group in (``order_col``,
    ``id_col``) order instead of plain id order — with
    :func:`semantic_pack_groups`' ``order_col=`` projection this makes
    similar documents ADJACENT inside a bin, not merely co-resident
    (the within-sequence half of the in-context-pretraining layout).
    The id tiebreak keeps the fold fully deterministic. ``"bfd"``
    ignores it (best-fit-decreasing defines its own size-descending
    order).

    - ``"nextfit"`` (default): one pass in ``id_col`` order — the
      streaming-compatible rule (PackGate runs the same fold over
      triggers), oracle-twinned by the q57/q119 recursive CTEs.
    - ``"bfd"`` (best-fit-decreasing): sort the group by (size desc,
      id), place each doc in the open bin with the LEAST remaining
      space that still fits, else open a new bin — the classic offline
      bin-packing heuristic. Tighter fill (pack_report waste_frac never
      worse than next-fit on the same group split, test-pinned) at the
      cost of being offline-only: the whole group must be known, so
      there is no streaming face, and assignment is independent of
      arrival order BY CONSTRUCTION (the sort). Not SQL-expressible
      (bin state is a mutable multiset) — pytest-pinned, no oracle row,
      like the model-based quality filter.

    Non-numeric id columns group by ``pmod(xxhash64(id), n_groups)`` — a
    plain ``%`` on a string id is NULL for every row, which would silently
    collapse the whole corpus into one sequential group (and that single
    group is exactly the global-order barrier this design avoids).
    """
    from pyspark.sql.types import LongType, NumericType, StructField, StructType

    if group_col is not None:
        grp = F.col(group_col).cast("long")
    elif isinstance(df.schema[id_col].dataType, NumericType):
        grp = (F.col(id_col) % n_groups).cast("long")
    else:
        grp = F.pmod(F.xxhash64(id_col), F.lit(n_groups))
    grouped = df.withColumn("pack_group", grp)
    # copy, don't .add(): DataFrame.schema returns the frame's cached
    # StructType and add() mutates it in place
    out_schema = StructType(
        grouped.schema.fields + [StructField("bin_idx", LongType())]
    )

    if strategy not in ("nextfit", "bfd"):
        raise ValueError(f"strategy must be 'nextfit' or 'bfd': {strategy!r}")

    def fold(pdf):
        sort_keys = [order_col, id_col] if order_col is not None else [id_col]
        pdf = pdf.sort_values(sort_keys).reset_index(drop=True)
        bins: list[int] = []
        acc, b = 0, 0
        for sz in pdf[size_col]:
            sz = int(sz or 0)
            if acc > 0 and acc + sz > budget:
                b += 1
                acc = 0
            acc += sz
            bins.append(b)
        pdf["bin_idx"] = bins
        return pdf

    def fold_bfd(pdf):
        import bisect

        pdf = pdf.sort_values(
            [size_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        # open bins as a sorted list of (remaining, bin_idx): the
        # best fit is the FIRST entry with remaining >= sz (smallest
        # viable residual; ties break to the lowest bin index via the
        # tuple order) — O(log bins) locate + O(bins) list surgery,
        # bounded by the group's bin count, never the corpus
        open_bins: list[tuple[int, int]] = []
        next_bin = 0
        assigned = []
        for sz in pdf[size_col]:
            sz = int(sz or 0)
            i = bisect.bisect_left(open_bins, (sz, -1))
            if i < len(open_bins):
                rem, b = open_bins.pop(i)
                open_bins.insert(
                    bisect.bisect_left(open_bins, (rem - sz, b)),
                    (rem - sz, b),
                )
                assigned.append(b)
            else:
                # nothing fits (or no bins yet): open a new one; an
                # oversized doc (sz > budget) sits alone with 0 left
                assigned.append(next_bin)
                rem = max(0, budget - sz)
                open_bins.insert(
                    bisect.bisect_left(open_bins, (rem, next_bin)),
                    (rem, next_bin),
                )
                next_bin += 1
        pdf["bin_idx"] = assigned
        return pdf

    body = fold if strategy == "nextfit" else fold_bfd
    return grouped.groupBy("pack_group").applyInPandas(body, schema=out_schema)


def clip_to_token_budget(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token-budget truncation — the prep step BEFORE
    :func:`pack_sequences` (packing never splits documents, so any doc
    longer than the context budget must be clipped first or it monopolizes
    a bin). Whole-token truncation on the engine's standard whitespace
    tokenization: keep the first ``budget`` tokens, report original and
    kept counts plus the clipped flag for pipeline audit.

    Map-only Column expressions end to end (tokenize -> slice -> re-join):
    zero shuffles at any corpus size, and every output is replayable in
    the DuckDB oracle (same split regex, same join separator). Contentless
    docs (NULL/empty) are dropped, matching the stats operators (q59/q71).
    """
    from jsonify2ai_spark.functions.text import tokens

    nonempty = df.filter(
        F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0
    )
    tk = F.array(tokens(F.col(text_col)))
    # let-bind the token array: referencing tokens() in each output column
    # would re-run the split regex per column (no CSE across expressions)
    based = nonempty.select(
        F.col(id_col),
        F.element_at(tk, 1).alias("_tk"),
    )
    n = F.size("_tk")
    kept = F.least(n, F.lit(budget))
    return based.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        kept.cast("bigint").alias("n_kept"),
        (n > budget).alias("clipped"),
        F.concat_ws(" ", F.slice("_tk", 1, budget)).alias("clipped_text"),
    )


def concat_token_bins(
    packed: DataFrame,
    ids_col: str = "token_ids",
    group_col: str = "pack_group",
    bin_col: str = "bin_idx",
    id_col: str = "doc_id",
    eos_id: int | None = None,
    pad_to: int | None = None,
    pad_id: int = 0,
    with_boundaries: bool = False,
    mask_col: str | None = None,
) -> DataFrame:
    """Materialize each packed bin as ONE trainer-ready sequence (r9 —
    the step after :func:`pack_sequences`'s assignment): per
    (``group_col``, ``bin_col``), member documents' ``ids_col`` arrays
    concatenate in ``id_col`` order, ``eos_id`` (if given) appended
    after EVERY document (the standard document-boundary token — pack
    with ``size = n_ids + 1`` so the budget counts it), and the
    sequence right-padded with ``pad_id`` up to ``pad_to`` (padding
    never truncates: a bin longer than ``pad_to`` is a packing-budget
    bug and is returned at its true length for the caller's audit).
    Output: (group, bin, n_docs, n_ids, input_ids) where ``n_ids``
    counts REAL ids+eos, excluding padding.

    ``with_boundaries=True`` appends ``doc_ids`` (the member documents
    in sequence order — provenance for attribution/filtering) and
    ``doc_lens`` (each document's id count INCLUDING its eos, summing
    to ``n_ids``) — the compact form a trainer derives block-diagonal
    attention masks and per-document position resets from; padding is
    excluded by construction.

    ``mask_col``: SFT assembly (r12) — each document carries a
    position-aligned loss-mask array (:func:`~jsonify2ai_spark.
    operators.sft.sft_token_samples`); the assembled row gains
    ``loss_mask`` flattened in the same doc order, with 0 at every
    eos position (the boundary token is never trained) and 0 over
    padding. A document whose mask length disagrees with its id length
    RAISES at action time (plan-embedded guard — a silent misalignment
    would train on the wrong positions for every later doc in the bin).

    All JVM expressions — one hash aggregate on the (group, bin) key
    (bin membership is budget-bounded, so rows per group are bounded);
    the per-bin assembly is array_sort + flatten, no Python. The doc
    order inside a bin is the same ``id_col`` order next-fit assigned
    by, so sequences are deterministic on any cluster shape.
    """
    fields = [
        F.col(id_col).alias("i"),
        # a NULL id array reads as empty (the tokens_to_ids
        # convention) — otherwise concat/flatten NULL-propagate
        # and silently drop the ENTIRE bin's sequence
        F.coalesce(F.col(ids_col), F.array()).alias("t"),
    ]
    if mask_col is not None:
        ids_c = F.coalesce(F.col(ids_col), F.array())
        msk_c = F.coalesce(F.col(mask_col), F.array())
        fields.append(
            F.when(
                F.size(msk_c) != F.size(ids_c),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "concat_token_bins: loss-mask length disagrees "
                            "with id length for doc "
                        ),
                        F.col(id_col).cast("string"),
                    )
                ).cast("array<int>"),
            )
            .otherwise(msk_c.cast("array<int>"))
            .alias("m")
        )
    docs = F.array_sort(F.collect_list(F.struct(*fields)))
    agged = packed.groupBy(group_col, bin_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        docs.alias("_docs"),
    )
    if eos_id is not None:
        per_doc = lambda d: F.concat(  # noqa: E731
            d["t"], F.array(F.lit(int(eos_id)).cast("bigint"))
        )
    else:
        per_doc = lambda d: d["t"]  # noqa: E731
    seq = F.flatten(F.transform("_docs", per_doc))
    cols = [
        F.col(group_col),
        F.col(bin_col),
        F.col("n_docs"),
        F.size(seq).cast("bigint").alias("n_ids"),
        seq.alias("input_ids"),
    ]
    if mask_col is not None:
        if eos_id is not None:
            per_doc_mask = lambda d: F.concat(  # noqa: E731
                d["m"], F.array(F.lit(0))
            )
        else:
            per_doc_mask = lambda d: d["m"]  # noqa: E731
        cols.append(
            F.flatten(F.transform("_docs", per_doc_mask)).alias("loss_mask")
        )
    if with_boundaries:
        cols += [
            F.transform("_docs", lambda d: d["i"]).alias("doc_ids"),
            F.transform(
                "_docs", lambda d: F.size(per_doc(d)).cast("bigint")
            ).alias("doc_lens"),
        ]
    out = agged.select(*cols)
    if pad_to is not None:
        pad_n = F.greatest(F.lit(pad_to) - F.size("input_ids"), F.lit(0))
        if mask_col is not None:
            # pad the mask FIRST (its length tracks the unpadded ids)
            out = out.withColumn(
                "loss_mask",
                F.concat("loss_mask", F.array_repeat(F.lit(0), pad_n)),
            )
        out = out.withColumn(
            "input_ids",
            F.concat(
                "input_ids",
                F.array_repeat(F.lit(int(pad_id)).cast("bigint"), pad_n),
            ),
        )
    return out


def semantic_plane(seed: str, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane ``g[plane][j] =
    (md5int12(seed|plane|j) % 2001 - 1000) / 1000`` — the engine-portable
    md5 idiom (operators/sampling.py `_hash_bucket`), so a DuckDB oracle
    rebuilds the exact same matrix from the exact same strings."""
    import hashlib

    return [
        (
            int(
                hashlib.md5(f"{seed}|{plane}|{j}".encode()).hexdigest()[:12],
                16,
            )
            % 2001
            - 1000
        )
        / 1000.0
        for j in range(dim)
    ]


def semantic_pack_groups(
    df: DataFrame,
    vector_col: str = "embedding",
    n_bits: int = 4,
    dim: int = 64,
    seed: str = "icp-v1",
    out_col: str = "pack_group",
    order_out: str | None = None,
) -> DataFrame:
    """Semantic grouping key for in-context-pretraining-style packing
    (Shi et al. 2023, "In-Context Pretraining": training sequences built
    from RELATED documents instead of random neighbors improve long-
    context use). The paper's exact recipe — kNN graph + greedy
    traversal — is corpus-quadratic in the worst case; the scalable
    approximation is locality-sensitive BUCKETING: ``n_bits`` random
    hyperplanes (deterministic md5-derived, :func:`semantic_plane`) sign
    each document's embedding into one of ``2**n_bits`` buckets, cosine-
    similar documents collide, and :func:`pack_sequences` with
    ``group_col=out_col`` then fills each bin from ONE bucket — related
    documents share context windows with no extra machinery.

    Scale shape: pure map-side Column arithmetic (n_bits dot products as
    zip_with/aggregate folds over plan-literal planes — no UDF, no
    shuffle, no model); the only shuffle is the pack groupBy that the
    id-modulo grouping paid anyway. Dots round to 6dp before the sign
    test so the bucket is engine-portable (the dsir 4dp-rounding rule);
    the whole assignment is DuckDB-replayable (driver gate row q133).
    More bits = tighter semantic neighborhoods but fewer docs per group
    (a group below ~budget tokens degenerates to a lone ragged bin) —
    size ``n_bits`` so corpus_tokens / 2**n_bits >> budget.

    ``order_out``: additionally emit plane 0's (rounded) dot product —
    a 1-D semantic coordinate for :func:`pack_sequences`'
    ``order_col=``, so documents inside a bucket pack in projection
    order (nearer in the projection ≈ nearer in embedding space): the
    within-sequence half of the ICP layout, still pure map-side.
    """
    if not 1 <= n_bits <= 16:
        raise ValueError(f"n_bits must be in [1, 16]: {n_bits}")
    # plan-embedded dim guard: a mismatched dim would NULL-propagate
    # through zip_with and silently collapse the whole corpus into one
    # NULL group (one sequential pandas fold, zero semantic grouping)
    v = (
        F.when(
            F.size(vector_col) == F.lit(int(dim)),
            F.col(vector_col).cast("array<double>"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("semantic_pack_groups: embedding length "),
                    F.size(vector_col).cast("string"),
                    F.lit(f" != dim={int(dim)}"),
                )
            ).cast("array<double>")
        )
    )
    bucket = F.lit(0).cast("long")
    dot0 = None
    for i in range(n_bits):
        g = vec_lit(semantic_plane(seed, i, dim))
        dot = F.round(
            F.aggregate(
                F.zip_with(v, g, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        if i == 0:
            dot0 = dot
        bucket = bucket + (dot >= 0).cast("long") * F.lit(1 << i)
    out = df.withColumn(out_col, bucket)
    if order_out is not None:
        out = out.withColumn(order_out, dot0)
    return out


def purge_packed_bins(
    bins: DataFrame,
    purged_ids: list,
    ids_col: str = "input_ids",
    mask_col: str | None = "auto",
    pad_to: int | None = None,
    pad_id: int = 0,
) -> DataFrame:
    """Remove a set of documents from ASSEMBLED packed sequences — the
    re-slice half of right-to-be-forgotten deletion over trainer shards
    (r13). Given :func:`concat_token_bins` output WITH boundaries
    (``doc_ids``/``doc_lens``), every bin that contains a purged
    document is rebuilt from its surviving documents' own token runs:
    the boundary offsets locate each member's slice of ``ids_col``
    (each slice already carries its EOS — ``doc_lens`` include it), the
    kept slices re-concatenate in the original order, and the sequence
    re-pads with ``pad_id`` (to ``max(pad_to, new length)`` when
    ``pad_to`` is given — the :func:`concat_token_bins` padding rule —
    else to the row's ORIGINAL length, so tensor shapes are stable
    either way). ``n_docs``/``n_ids``/``doc_ids``/``doc_lens`` update
    to the survivors; a bin whose every member is purged drops
    entirely; a bin with no purged member passes through
    BYTE-IDENTICAL (the rebuild is gated per row, not applied
    globally). ``mask_col='auto'`` re-slices ``loss_mask`` alongside
    when present (SFT stores) — mask and ids share the same boundary
    offsets by the :func:`concat_token_bins` alignment contract, and
    padding positions get mask 0.

    Membership compares ids AS STRINGS (purge requests arrive as
    external identifiers; the store's id type — int doc ids, string
    conversation keys — must not matter). ``purged_ids`` is
    request-sized by contract (a deletion request, never a corpus):
    tiny sets become a literal InSet predicate, larger ones a broadcast
    hash set probed behind one vectorized Arrow boundary — either way
    the plan stays O(1)-ish in the set size, each lookup is O(1), and
    the rebuild is map-side — zero shuffles at any store size. The
    rebuild itself is pure Column expressions (aggregate scan for
    offsets, filter + slice + flatten), so the same transform serves
    the read path (logical purge) and compaction (physical erasure)
    and is DuckDB-replayable (driver gate row q132).

    Reference anchor: generalizes the reference's delete-by-document
    reconciliation (worker/app/services/qdrant_io.py delete path;
    watcher delete events) from vector-store points to packed trainer
    sequences, where a document is an interior SLICE of a training row
    rather than a row of its own.
    """
    for c in ("doc_ids", "doc_lens"):
        if c not in bins.columns:
            raise ValueError(
                "purge_packed_bins needs boundary columns doc_ids/doc_lens "
                f"({c!r} missing) — assembled shards written without "
                "boundaries=True cannot locate member documents; rebuild "
                "the store with boundaries enabled to make it purgeable"
            )
    if mask_col == "auto":
        mask_col = "loss_mask" if "loss_mask" in bins.columns else None
    ids = sorted({str(x) for x in purged_ids})
    if not ids:
        return bins

    spark = bins.sparkSession
    elem_t = bins.schema[ids_col].dataType.elementType.simpleString()
    if len(ids) <= _PURGE_INSET_MAX:
        # tiny set: literal InSet membership — cheapest total cost while
        # the literal list stays small enough that Catalyst walking it
        # (times the ~7 expression sites _gone gets re-inlined into) is
        # negligible. Same string-equality semantics, same NULL
        # propagation as the paths below.
        gone_flags = F.transform(
            "doc_ids", lambda d: d.cast("string").isin(ids)
        )
    else:
        # request-sized set as a vectorized hash-set probe behind ONE
        # Arrow boundary (r16, guide §4): the plan stays O(1) in the set
        # size (the set ships once per executor as a broadcast) and each
        # member lookup is O(1). The two all-JVM alternatives both fail
        # at this size, measured at sf0.1 (1727 bins × 1000 victims):
        # literal isin makes ANALYSIS O(set) per rule pass (1.2 s plan /
        # 0.2 s exec) and a broadcast single-row array makes EXECUTION
        # O(members × set) via array_contains' linear scan (0.4 s plan /
        # 1.0 s exec); the Arrow probe is 0.45 s plan / 0.35 s exec and
        # size-independent. Id normalization stays in the JVM (cast to
        # string feeds the UDF) so the Python side is a pure frozenset
        # probe with the exact NULL propagation of both former paths.
        from pyspark.sql.functions import pandas_udf

        bv = spark.sparkContext.broadcast(frozenset(ids))

        # explicit pandas_udf(fn, type): `from __future__ import
        # annotations` stringifies hints, breaking inference (ann.py idiom)
        def _flags_batch(keys):
            tomb = bv.value
            return keys.map(
                lambda arr: None
                if arr is None
                else [None if k is None else (k in tomb) for k in arr]
            )

        # asNondeterministic (guide §4.4): the fully-purged-bin filter
        # references columns derived from _gone, and predicate pushdown
        # otherwise copies the probe below the filter — two
        # ArrowEvalPython nodes evaluating the same UDF. The function is
        # pure (values unchanged, branch-parity test pins it); the marker
        # only forbids the optimizer to duplicate/reorder it.
        _member_gone = pandas_udf(
            _flags_batch, "array<boolean>"
        ).asNondeterministic()
        gone_flags = _member_gone(
            F.transform("doc_ids", lambda d: d.cast("string"))
        )
    # membership evaluated ONCE per member into a flag array that every
    # downstream expression reads instead of re-testing the set
    df = bins.withColumn("_gone", gone_flags)
    gone_of = lambda z: z["_gone"]  # noqa: E731
    affected = F.coalesce(F.exists("_gone", lambda g: g), F.lit(False))
    # one linear scan over the (id, len, gone) triples builds each
    # member's (start, length, keep) segment — offsets are cumulative
    # doc_lens, 1-based for slice()
    zipped = F.arrays_zip("doc_ids", "doc_lens", "_gone")
    init = F.struct(
        F.lit(1).cast("bigint").alias("pos"),
        F.expr(
            "CAST(array() AS array<struct<s: bigint, l: bigint, k: boolean>>)"
        ).alias("segs"),
    )
    merge = lambda acc, x: F.struct(  # noqa: E731
        (acc["pos"] + x["doc_lens"]).alias("pos"),
        F.concat(
            acc["segs"],
            F.array(
                F.struct(
                    acc["pos"].alias("s"),
                    x["doc_lens"].cast("bigint").alias("l"),
                    (~gone_of(x)).alias("k"),
                )
            ),
        ).alias("segs"),
    )
    df = df.withColumn(
        "_kept",
        F.aggregate(
            zipped, init, merge, lambda acc: F.filter(acc["segs"], lambda s: s["k"])
        ),
    ).withColumn("_aff", affected)

    kept_pairs = F.filter(zipped, lambda z: ~gone_of(z))
    new_core = F.flatten(
        F.transform(
            "_kept",
            lambda s: F.slice(
                F.col(ids_col), s["s"].cast("int"), s["l"].cast("int")
            ),
        )
    )
    new_n = F.coalesce(
        F.aggregate(
            "_kept", F.lit(0).cast("bigint"), lambda acc, s: acc + s["l"]
        ),
        F.lit(0).cast("bigint"),
    )
    if pad_to is not None:
        target_len = F.greatest(F.lit(int(pad_to)).cast("bigint"), new_n)
    else:
        target_len = F.size(ids_col).cast("bigint")
    pad_n = F.greatest(target_len - new_n, F.lit(0).cast("bigint")).cast("int")
    new_ids = F.concat(
        new_core, F.array_repeat(F.lit(int(pad_id)).cast(elem_t), pad_n)
    )

    def _upd(col, new):
        return F.when(F.col("_aff"), new).otherwise(F.col(col)).alias(col)

    updates = {
        "n_docs": _upd("n_docs", F.size(kept_pairs).cast("bigint")),
        "n_ids": _upd("n_ids", new_n),
        ids_col: _upd(ids_col, new_ids),
        "doc_ids": _upd("doc_ids", F.transform(kept_pairs, lambda z: z["doc_ids"])),
        "doc_lens": _upd(
            "doc_lens",
            F.transform(kept_pairs, lambda z: z["doc_lens"].cast("bigint")),
        ),
    }
    if mask_col is not None:
        mask_t = bins.schema[mask_col].dataType.elementType.simpleString()
        new_mask = F.concat(
            F.flatten(
                F.transform(
                    "_kept",
                    lambda s: F.slice(
                        F.col(mask_col), s["s"].cast("int"), s["l"].cast("int")
                    ),
                )
            ),
            F.array_repeat(F.lit(0).cast(mask_t), pad_n),
        )
        updates[mask_col] = _upd(mask_col, new_mask)

    out_cols = [updates.get(c, F.col(c)) for c in bins.columns]
    return (
        df.filter(~(F.col("_aff") & (F.size(kept_pairs) == 0)))
        .select(*out_cols)
    )


def pack_report(
    packed: DataFrame,
    budget: int,
    size_col: str = "n_chars",
) -> DataFrame:
    """Packing-efficiency report over :func:`pack_sequences` output — the
    one-row QA card a trainer reads before committing a shard layout:
    does this (budget, corpus) pairing waste sequence capacity, and is
    the waste in the bins or in oversized documents?

    Columns: ``n_bins``, ``n_docs``, ``total_units`` (Σ size),
    ``docs_per_bin`` (mean), fill-rate distribution over bins
    (``mean_fill``/``p50_fill``/``p95_fill``/``min_fill``/``max_fill``,
    each Σsize-in-bin / budget), ``waste_frac`` (capacity the layout
    burns: 1 − total/(n_bins·budget)) and ``n_overfull`` (bins above
    budget — next-fit places an oversized single document alone rather
    than splitting it, so overfull count == oversized-doc count; a
    nonzero value says "clip upstream or raise the budget", see
    :func:`clip_to_token_budget`). Percentiles are exact
    linear-interpolation ``percentile()`` over the BIN frame (bounded:
    ≤ n_docs rows, in practice corpus_tokens/budget), not the corpus —
    the q38 idiom, safe at 100 TB because bins-per-group are rolled up
    partial-aggregated first and the final reduce is one row. Ratios
    round to 4dp (+0.0 signed-zero guard, the oracle convention).
    """
    bins = packed.groupBy("pack_group", "bin_idx").agg(
        F.sum(F.col(size_col)).cast("bigint").alias("fill"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    b = F.lit(float(budget))

    def _r(c):
        return F.round(c, 4) + F.lit(0.0)

    return bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("fill").cast("bigint").alias("total_units"),
        _r(F.avg("n_docs")).alias("docs_per_bin"),
        _r(F.avg(F.col("fill") / b)).alias("mean_fill"),
        _r(F.expr("percentile(fill / CAST({b} AS DOUBLE), 0.5)".format(b=budget))).alias("p50_fill"),
        _r(F.expr("percentile(fill / CAST({b} AS DOUBLE), 0.95)".format(b=budget))).alias("p95_fill"),
        _r(F.min(F.col("fill") / b)).alias("min_fill"),
        _r(F.max(F.col("fill") / b)).alias("max_fill"),
        _r(F.lit(1.0) - F.sum("fill") / (F.count(F.lit(1)) * b)).alias("waste_frac"),
        F.sum((F.col("fill") > F.lit(int(budget))).cast("int"))
        .cast("bigint")
        .alias("n_overfull"),
    )
