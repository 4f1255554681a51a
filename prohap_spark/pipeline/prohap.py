"""ProHap path (SURVEY §3.2): phased VCF + samples + annotation + cDNA
→ haplotype table + protein FASTA rows.

Stage map (reference → Spark):
  d. variant⋈transcript assignment (vcf_reader.py, spill files)
       → binned interval join; the spill dir IS the shuffle (S11)
  e. haplotype extraction (get_haplotypes.py:61-328, Pool fork)
       → melt genotypes long → conflict-island window (W1) →
         two chained aggregations (A2) → sex/X-aware denominators (A3)
         → population frequency maps (A4)
  f. haplotype→protein (process_haplotypes.py, Pool fork)
       → mapInPandas U1-U3 → duplicate merge (A5) → threshold (F8)

Everything is one lazy plan; AQE handles the transcript-size skew
(chr1 vs chr21 ≈ 10×, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from prohap_spark.kernels.spark_kernels import annotate_items
from prohap_spark.pipeline.provar import assign_variants_to_transcripts
from prohap_spark.sources.vcf import filter_valid_alleles, melt_genotypes

# GRCh38 pseudo-autosomal regions (chrX): diploid in males too
PAR1 = (10_001, 2_781_479)
PAR2 = (155_701_383, 156_030_895)


def _is_diploid_locus(chrom, pos):
    in_par = ((pos >= PAR1[0]) & (pos <= PAR1[1])) | ((pos >= PAR2[0]) & (pos <= PAR2[1]))
    return (chrom != "X") | in_par


def extract_haplotypes(
    variants: DataFrame,
    sample_names: list[str],
    samples_meta: DataFrame,
    transcripts: DataFrame,
    min_af: float | None = None,
) -> DataFrame:
    """A2: per (transcript, sample, phase) the sorted set of carried
    variants → grouped into haplotypes with occurrence counts, carrier
    lists, overall/per-population frequencies (A3/A4), conflict flags
    (W1). Returns one row per (transcript_id, haplotype signature)."""
    v = filter_valid_alleles(variants)
    if min_af is not None:
        v = v.where(F.col("af") >= min_af)

    # distinct variant loci → transcript assignment (small side of the melt)
    loci = v.select("chrom", "pos", "id", "ref", "alt").dropDuplicates(
        ["chrom", "pos", "ref", "alt"]
    )
    assigned = assign_variants_to_transcripts(loci, transcripts).select(
        "transcript_id", "strand", "chrom", "pos", "ref", "alt"
    )

    melted = melt_genotypes(v, sample_names)
    meta = samples_meta.select(
        F.col("sample_name"),
        F.col("sex"),
        F.col("population_code"),
        F.col("superpopulation_code"),
    )
    melted = melted.join(F.broadcast(meta), "sample_name")

    # phase explode; male chrX outside the PARs is haploid → suppress
    # phase 2 (get_haplotypes.py:118-119)
    diploid = _is_diploid_locus(F.col("chrom"), F.col("pos"))
    phases = melted.select(
        "*",
        F.explode(
            F.when(
                (F.col("sex") == "male") & ~diploid,
                F.array(F.struct(F.lit(1).alias("phase"), F.col("hap1").alias("allele"))),
            ).otherwise(
                F.array(
                    F.struct(F.lit(1).alias("phase"), F.col("hap1").alias("allele")),
                    F.struct(F.lit(2).alias("phase"), F.col("hap2").alias("allele")),
                )
            )
        ).alias("ph"),
    ).select(
        "chrom", "pos", "ref", "alt", "vcf_id", "af", "sample_name", "sex",
        "population_code", "superpopulation_code",
        F.col("ph.phase").alias("phase"),
        F.col("ph.allele").alias("allele"),
    )
    carriers = phases.where(F.col("allele") == 1)

    # carried variants per transcript copy; the (locus × transcript)
    # assignment has no per-sample axis, so it is tiny relative to the
    # melted carrier table → broadcast keeps the big side shuffle-free
    tc = carriers.join(F.broadcast(assigned), ["chrom", "pos", "ref", "alt"])

    # W1 conflict detection: overlapping changes on ONE transcript copy ⇒
    # drop that (sample, phase) entirely (get_haplotypes.py:172-184).
    # A copy has a conflict iff ANY row overlaps the running max end of
    # its predecessors — both windows below share ONE partitioning
    # (transcript, sample, phase), so Catalyst plans a single
    # exchange+sort (the island-count formulation would add a second
    # exchange on (…, island_id)).
    ref_len = F.greatest(
        F.when(F.col("ref") == "-", F.lit(0)).otherwise(F.length("ref")), F.lit(1)
    )
    iv = tc.withColumn("iv_start", F.col("pos")).withColumn(
        "iv_end", F.col("pos") + ref_len - 1
    )
    # Establish the pipeline's ONE carrier partitioning HERE, on
    # transcript_id alone. hash(transcript_id) satisfies the clustered
    # distribution of every downstream step — the conflict windows
    # partitioned by (transcript, sample, phase), the per-copy signature
    # aggregate, AND the signature→haplotype aggregate keyed
    # (transcript_id, strand, signature) — so Catalyst plans a single
    # Exchange where the (transcript, sample, phase) partitioning would
    # need a second full shuffle of the signature table between the two
    # aggregations (tests/test_plans.py pins the exchange count). Same
    # bytes through the one exchange either way; the coarser key is
    # scale-safe because the transcript IS the reference pipeline's
    # own unit of parallelism (get_haplotypes.py forks its Pool per
    # transcript), so a per-transcript task here is never wider than
    # the baseline's per-worker unit, and transcript count (~10^5)
    # keeps every executor fed at any cohort size.
    iv = iv.repartition(F.col("transcript_id"))
    copy_w = Window.partitionBy("transcript_id", "sample_name", "phase")
    order_w = copy_w.orderBy("iv_start", "iv_end")
    prev_max_end = F.max("iv_end").over(order_w.rowsBetween(Window.unboundedPreceding, -1))
    overlaps_prev = (prev_max_end.isNotNull() & (F.col("iv_start") <= prev_max_end)).cast("int")
    clean = (
        iv.withColumn("__ovl", overlaps_prev)
        .withColumn("has_conflict", F.max("__ovl").over(copy_w))
        .where(F.col("has_conflict") == 0)
        .drop("__ovl", "has_conflict", "iv_start", "iv_end")
    )

    # A2 stage 1: signature per transcript copy
    sigs = clean.groupBy(
        "transcript_id", "strand", "sample_name", "phase", "sex",
        "population_code", "superpopulation_code",
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "ref", "alt", F.col("vcf_id"), F.col("af")))
        ).alias("changes"),
    )
    sigs = sigs.withColumn(
        "signature",
        F.array_join(
            F.transform(
                "changes",
                lambda c: F.concat_ws(":", c["pos"], c["ref"], c["alt"]),
            ),
            ";",
        ),
    )

    # A2 stage 2: group identical signatures. The per-copy population
    # codes are collected HERE (same cardinality as the carrier-sample
    # list the output schema already carries) so the A4 frequency maps
    # below can be computed from this one aggregate — a second
    # aggregation over `sigs` would re-execute the whole melt → conflict
    # window → signature pipeline (the BIG side): its two consumers get
    # different pruned projections, so ReuseExchange never matches them,
    # and at 100 TB that doubles the dominant scan+shuffle (about 2×
    # end-to-end on the synthetic cohort).
    haplos = sigs.groupBy("transcript_id", "strand", "signature").agg(
        F.any_value("changes").alias("changes"),
        F.count(F.lit(1)).alias("occurrence_count"),
        F.array_sort(
            F.collect_list(F.concat_ws(":", "sample_name", "phase"))
        ).alias("samples"),
        F.collect_list(
            F.struct("population_code", "superpopulation_code")
        ).alias("__pops"),
    )

    # A3: frequency with sex-aware denominators; transcript-level
    # diploidy from the transcript span (is_autosomal analog,
    # get_haplotypes.py:92). The cohort totals stay a LAZY broadcast
    # 1-row aggregate (no blocking driver-side .count() actions).
    # samples_meta is cohort METADATA — thousands of rows at any
    # production scale — so its two auxiliary aggregates below should
    # not pay shuffle exchanges (a 2-stage global agg for the totals, a
    # 4-stage groupBy+collect for the denominator map). coalesce(1)
    # gives the scans SinglePartition partitioning, which satisfies
    # every aggregation's required distribution — no Exchange is
    # planned and the aux row builds in one task, which is the honest
    # plan for a metadata-sized input.
    meta1 = samples_meta.coalesce(1)
    totals = meta1.agg(
        F.count(F.lit(1)).alias("__n_samples"),
        F.sum(F.when(F.col("sex") == "male", 1).otherwise(0)).alias("__n_males"),
    )
    tr_diploid = transcripts.select(
        "transcript_id",
        _is_diploid_locus(F.col("chrom"), F.col("start")).alias("is_diploid"),
    )
    # A4: the per-(super)population frequency maps below are computed
    # ROW-LOCALLY from the collected per-copy population codes plus ONE
    # broadcast single-row map of group denominators — zero additional
    # shuffles and no second pass over the carrier table. Per-row cost
    # is O(carriers × distinct-groups); the row already carries the
    # carrier-sample array of the same length, so this adds no new
    # asymptotic weight.
    def _level_explode(df: DataFrame, pop_col: str, sup_col: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    F.struct(F.lit("pop").alias("level"), F.col(pop_col).alias("grp")),
                    F.struct(F.lit("sup").alias("level"), F.col(sup_col).alias("grp")),
                )
            ).alias("__lg"),
        ).select("*", F.col("__lg.level").alias("__level"), F.col("__lg.grp").alias("__grp"))

    denom_map = (
        _level_explode(meta1, "population_code", "superpopulation_code")
        .groupBy("__level", "__grp")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(F.col("sex") == "male", 1).otherwise(0)).alias("__m"),
        )
        .where(F.col("__grp").isNotNull())
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.concat_ws("|", "__level", "__grp"),
                        F.struct(F.col("__n"), F.col("__m")),
                    )
                )
            ).alias("__denoms")
        )
    )
    # ONE one-row broadcast crossJoin instead of two — the cohort
    # totals and the group-denominator map (both single-row lazy
    # aggregates over samples_meta) combine into one auxiliary row
    # BEFORE broadcasting, so the full haplotype table flows through
    # ONE BroadcastNestedLoopJoin, not two (the second BNLJ moves
    # inside the broadcast build, where it crosses two 1-row frames).
    # At scale that is one fewer full operator pass over the haplotype
    # table; results are identical (same columns, same values, joined
    # to every row either way).
    aux = totals.crossJoin(denom_map)
    haplos = haplos.join(F.broadcast(tr_diploid), "transcript_id", "left").crossJoin(
        F.broadcast(aux)
    )
    denom = F.when(
        F.coalesce(F.col("is_diploid"), F.lit(True)), 2 * F.col("__n_samples")
    ).otherwise(F.col("__n_males") + 2 * (F.col("__n_samples") - F.col("__n_males")))
    # frequency as exact 1e-5 units via the floor device: the A5
    # duplicate merge sums frequencies, and sums of rounded 5-decimal
    # DOUBLES reassociate differently per aggregation order — the
    # float-gate class. floor(cnt*1e5/denom + 0.5)/1e5 is the same
    # correctly-rounded IEEE chain in every engine.
    haplos = haplos.withColumn(
        "frequency",
        F.floor(F.col("occurrence_count") * F.lit(100000.0) / denom + F.lit(0.5))
        / F.lit(100000.0),
    ).drop("__n_samples", "__n_males")

    def _freq_map(level: str, field: str):
        pops = F.array_compact(
            F.array_distinct(F.transform("__pops", lambda x: x[field]))
        )

        def entry(p):
            c = F.size(F.filter("__pops", lambda x: x[field] == p))
            d = F.element_at("__denoms", F.concat_ws("|", F.lit(level), p))
            g_denom = F.when(
                F.coalesce(F.col("is_diploid"), F.lit(True)), 2 * d["__n"]
            ).otherwise(d["__m"] + 2 * (d["__n"] - d["__m"]))
            return F.struct(p.alias("grp"), F.round(c / g_denom, 5).alias("f"))

        return F.map_from_entries(F.array_sort(F.transform(pops, entry)))

    haplos = haplos.withColumn(
        "population_freqs", _freq_map("pop", "population_code")
    ).withColumn(
        "superpopulation_freqs", _freq_map("sup", "superpopulation_code")
    ).drop("__pops", "__denoms")

    # deterministic haplotype ids (W2 discipline, SURVEY §7.3.4):
    # content-hash of the grouping key — no window, no extra exchange,
    # stable under any row order / partition count (a global
    # Window.orderBy here would single-task the whole table at scale)
    return haplos.withColumn(
        "haplotype_id",
        F.concat(
            F.lit("haplo_"),
            F.lower(F.hex(F.xxhash64(F.col("transcript_id"), F.col("signature")))),
        ),
    )


def annotate_haplotypes(
    haplos: DataFrame,
    transcripts: DataFrame,
    cdna: DataFrame,
    min_count: int | None = None,
    force_rf: bool = False,
    skip_start_loss: bool = True,
    ignore_utr: bool = True,
) -> DataFrame:
    """U3 over haplotypes + A5 duplicate merge + F8 threshold.

    ``force_rf`` / ``skip_start_loss`` / ``ignore_utr`` mirror the
    reference's process_haplotypes flags (defaults identical)."""
    tr = transcripts.select(
        "transcript_id", "exons", "start_codon", "stop_codon", "biotype", "chrom"
    )
    cd = cdna.select(F.col("accession").alias("transcript_id"), F.col("sequence").alias("cdna"))
    # the haplotype metadata rides THROUGH the Arrow kernel stage as
    # passthrough columns — no join back afterwards (that join would
    # re-shuffle the whole haplotype table at scale)
    meta_cols = (
        "occurrence_count", "frequency", "samples",
        "population_freqs", "superpopulation_freqs",
    )
    items = (
        haplos.join(tr, "transcript_id")
        .join(cd, "transcript_id")
        .select(
            "transcript_id",
            F.col("haplotype_id").alias("item_id"),
            "strand",
            "exons",
            "start_codon",
            "stop_codon",
            "cdna",
            # the 5-field changes struct (incl af) goes through as-is:
            # the kernel reads pos/ref/alt/vcf_id and ignores the rest,
            # and the contract layer needs af back out the other side
            "changes",
            *meta_cols,
        )
    )
    out = annotate_items(
        items,
        force_rf=force_rf,
        skip_start_loss=skip_start_loss,
        ignore_utr=ignore_utr,
        passthrough=("changes",) + meta_cols,
    )
    # A5: merge haplotypes with identical applied-change sets per
    # transcript (post-validation duplicates,
    # process_haplotypes.py:403-411)
    from prohap_spark.functions.encodings import merge_freq_maps

    empty_map = F.create_map().cast("map<string,double>")
    merged = out.groupBy("transcript_id", "cdna_changes").agg(
        F.min("item_id").alias("haplotype_id"),
        F.any_value("changes").alias("changes"),
        F.any_value("all_protein_changes").alias("all_protein_changes"),
        F.any_value("protein_changes").alias("protein_changes"),
        F.any_value("variant_types").alias("variant_types"),
        # identical within the group: the group key IS the applied
        # change set, which determines the mutated sequence
        F.any_value("mutated_cdna").alias("mutated_cdna"),
        F.any_value("protein").alias("protein"),
        F.any_value("proteins_all_frames").alias("proteins_all_frames"),
        F.any_value("reading_frame").alias("reading_frame"),
        F.any_value("protein_prefix_length").alias("protein_prefix_length"),
        F.any_value("start_missing").alias("start_missing"),
        F.any_value("start_lost").alias("start_lost"),
        F.any_value("splice_sites_affected").alias("splice_sites_affected"),
        F.sum("occurrence_count").alias("occurrence_count"),
        # exact merge: recover the integer 1e-5 units (scale-0 round on
        # identical doubles is engine-safe), sum as BIGINT, divide once
        (
            F.sum(F.round(F.col("frequency") * F.lit(100000.0), 0).cast("long"))
            / F.lit(100000.0)
        ).alias("frequency"),
        F.flatten(F.collect_list("samples")).alias("samples"),
        # A5 map merge: key-wise ADD across merged duplicates
        # (add_population_freqs, process_haplotypes.py:50-70)
        F.aggregate(
            F.collect_list("population_freqs"), empty_map, merge_freq_maps
        ).alias("population_freqs"),
        F.aggregate(
            F.collect_list("superpopulation_freqs"), empty_map, merge_freq_maps
        ).alias("superpopulation_freqs"),
    )
    if min_count is not None:
        merged = merged.where(F.col("occurrence_count") >= min_count)
    return merged


def drop_synonymous_only(annotated: DataFrame) -> DataFrame:
    """Suppress haplotypes whose applied changes are ALL synonymous —
    their protein equals the reference product
    (process_haplotypes.py:393-395). The kernel already drops these on
    its default (ignore_utr) path; this relational guard covers the
    relaxed modes. Per-change types may be '|'-joined across frames."""
    types = F.split(F.col("variant_types"), ";")
    all_syn = F.forall(
        types, lambda t: F.forall(F.split(t, r"\|"), lambda x: x == "synonymous")
    )
    return annotated.where(~((F.col("variant_types") != "") & all_syn))
