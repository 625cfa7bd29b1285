"""Variant-report generation (VarSum) — record cleaning + template NLG.

Reference capability (VarSum_germline.py:55-277 record cleaning, 333-585
report templates; VarSum_utils.py:3-76 CDS-position parsing and
ClinVar/VEP translation maps). One pipeline:

- :func:`clean_varsum_table` — the reference's table_cleaning as one
  column projection ("." sentinel, genotype a/b classification, CDS
  position and exon/intron/UTR class by the *, -, + markers, ClinVar and
  VEP translations, MANE-transcript score pick; SURVEY.md P8/F9/F17),
  plus the HGVSp struct from functions.hgvsp;
- :func:`render_report_en` / :func:`render_report_zh` — the English and
  Traditional-Chinese reports of one cleaned row, with a content-seeded
  template choice (deterministic; SURVEY.md §7 #5).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hgvsp import parse_hgvsp_col

# seeds both reports' template choice, so a report depends on its record only
REPORT_SEED = 42

# ===========================================================================
# Full-fidelity germline VarSum (VarSum_germline.py:55-277 table_cleaning,
# 333-585 templates; VarSum_utils.py:37-76 translation maps). Input columns
# map 1:1 to the reference's sample keys:
#   vep_gene_name        ← VEP_VEP-refseq-Gene-Name
#   format_gt            ← Otherinfo_FORMAT-GT
#   vep_hgvsc            ← VEP_VEP-refseq-HGVSc
#   vep_consequence      ← VEP_VEP-refseq-Consequence
#   vep_hgvsp            ← VEP_VEP-refseq-HGVSp
#   vep_exon_intron_rank ← VEP_VEP-refseq-Exon-or-Intron-Rank
#   clinvar_clnsig       ← ClinVar_CLNSIG
#   vep_transcript_id    ← VEP_VEP-ensembl-Transcript-ID
#   annovar_transcript_id← ANNOVAR_ANNOVAR-ensembl-Transcript-ID
#   gnomad_af_popmax     ← gnomAD-Genomes_AF-popmax
#   taiwanbiobank_af     ← TaiwanBiobank-official_Illumina1000-AF
#   hotspot_dbs          ← pathogenicHotspot-ailabs_pathogenicHotspot
#   ps_transcript_ids    ← Pathogenicity Scores_Ensembl-transcriptid
#   ps_sift / ps_polyphen2 / ps_vest4 / ps_provean
#                        ← Pathogenicity Scores_{SIFT,Polyphen2-HVAR,VEST4,PROVEAN}-…
#   cadd_phred           ← CADD_PHRED
#   dann_score           ← DANN_DANN-score
#   spliceai_ds_ag/al/dg/dl ← SpliceAI-SNV_DS-{AG,AL,DG,DL}
#   phylop100way_rank    ← Conservation Scores_phyloP100way-vertebrate-rankscore
# All cleaning is column-level except the HGVSp struct, a pandas UDF; the
# report renderers are driver-side Python, matching the reference's
# per-report string assembly.
# ===========================================================================

# VEP consequence → Traditional-Chinese phrase (VarSum_utils.py:57-76)
VEP_ZH = {
    "transcript_ablation": "轉錄消融", "splice_acceptor_variant": "剪接受體",
    "splice_donor_variant": "剪接供體", "stop_gained": "終止密碼子提前",
    "stop_lost": "終止密碼子丟失", "start_lost": "起始密碼子丟失",
    "frameshift_variant": "框移", "transcript_amplification": "轉錄擴增",
    "feature_elongation": "特徵延伸", "feature_truncation": "特徵截斷",
    "inframe_insertion": "框內插入", "inframe_deletion": "框內的缺失",
    "missense_variant": "錯義", "protein_altering_variant": "蛋白質改變",
    "splice_donor_5th_base_variant": "剪接供體第五鹼基對",
    "splice_region_variant": "剪接區域",
    "splice_donor_region_variant": "剪接供體區域",
    "splice_polypyrimidine_tract_variant": "剪接聚嘧啶束區域",
    "incomplete_terminal_codon_variant": "未完全註釋的轉錄本之最終密碼子",
    "start_retained_variant": "起始密碼子保留",
    "stop_retained_variant": "終止密碼子保留", "synonymous_variant": "同義",
    "coding_sequence_variant": "編碼序列",
    "mature_miRNA_variant": "成熟小分子核糖核酸",
    "5_prime_UTR_variant": "五端非轉譯區", "3_prime_UTR_variant": "三端非轉譯區",
    "non_coding_transcript_exon_variant": "非編碼轉錄本外顯子",
    "non_coding_transcript_variant": "非編碼轉錄本", "intron_variant": "內含子",
    "NMD_transcript_variant": "無義介導mRNA降解轉錄本",
    "coding_transcript_variant": "編碼轉錄本",
    "upstream_gene_variant": "上游基因", "downstream_gene_variant": "下游基因",
    "TFBS_ablation": "轉錄因子結合位消融",
    "TFBS_amplification": "轉錄因子結合位擴增",
    "TF_binding_site_variant": "轉錄因子結合位",
    "regulatory_region_ablation": "調控區域消融",
    "regulatory_region_amplification": "調控區域擴增",
    "regulatory_region_variant": "調控區域", "intergenic_variant": "基因間",
    "sequence_variant": "序列",
}

# ClinVar classification → Traditional Chinese (VarSum_utils.py:39-47)
CLINVAR_ZH = {
    "benign": "良性", "likely benign": "高度懷疑良性",
    "uncertain significance": "臨床意義尚未明確（VUS）",
    "likely pathogenic": "高度懷疑致病", "pathogenic": "致病",
    "likely pathogenic, low penetrance": "高度懷疑致病, 低外顯率",
    "pathogenic, low penetrance": "致病, 低外顯率",
    "not provided": "未提供", "other": "其他", "risk factor": "風險因子",
    "uncertain risk allele": "不確定的風險等位基因",
    "likely risk allele": "可能的風險等位基因",
    "established risk allele": "已知的風險等位基因",
    "drug response": "影響藥物反應", "association": "可推論",
    "protective": "保護因子", "affects": "非疾病性影響",
}

# Zh interpretation hints per software (VarSum_germline.py:407-414)
PATHOGENICITY_HINT_ZH = {
    "SIFT": "SIFT值越接近0", "PolyPhen2": "PolyPhen2值越接近1",
    "CADD-phred": "CADD-phred值越接近99", "VEST4": "VEST4值越接近1",
    "PROVEAN": "PROVEAN = D", "DANN": "DANN越接近1",
    "spliceAI": "spliceAI任一預測數值大於0.5",
}


def _dot(col: str) -> Column:
    """Missing/empty → the reference's '.' sentinel (preprocessing,
    VarSum_germline.py:46-52)."""
    c = F.trim(F.col(col))
    return F.when(c.isNull() | (c == ""), F.lit(".")).otherwise(c)


def _fmt(col: Column, decimals: int) -> Column:
    """'{:.Nf}'.format(round(float(x), N)) with ValueError → '.'
    (VarSum_germline.py:205-212, 247-263)."""
    v = col.try_cast("double")
    return F.when(v.isNull(), F.lit(".")).otherwise(
        F.format_string(f"%.{decimals}f", F.round(v, decimals))
    )


def find_cds_pos(split_var: Column) -> Column:
    """find_CDS_pos (VarSum_utils.py:3-18): from the first [0-9*-] char,
    take digits and +-*_ until another char."""
    return F.regexp_extract(split_var, r"([0-9*\-][0-9+\-*_]*)", 1)


def _consequence_en_item(cons: Column) -> Column:
    """'missense_variant' → 'missense'; 'stop_gained' → 'stop gained'
    (VarSum_utils.py:72-73: drop a trailing 'variant' token, '_' → ' ')."""
    parts = F.split(cons, "_")
    n = F.size(parts)
    return F.when(
        F.element_at(parts, -1) == "variant",
        F.array_join(F.slice(parts, 1, n - 1), " "),
    ).otherwise(F.array_join(parts, " "))


def clean_varsum_table(df: DataFrame) -> DataFrame:
    """Full table_cleaning (VarSum_germline.py:55-277) as one projection.

    Every intermediate below is a named column expression, and Catalyst
    collapses them into a single Project. Its array lambdas (transform,
    zip_with) run interpreted, and ``hgvsp_parsed`` is the one Python
    column (the functions.hgvsp pandas UDF)."""
    vep_zh = F.create_map(*[F.lit(x) for kv in VEP_ZH.items() for x in kv])
    clinvar_zh = F.create_map(*[F.lit(x) for kv in CLINVAR_ZH.items() for x in kv])

    gene_name = _dot("vep_gene_name")

    gt = _dot("format_gt")
    gt_parts = F.split(gt, "/")
    genotype = (
        F.when(gt == ".", F.lit(""))
        .when(gt_parts[0] == F.element_at(gt_parts, -1), F.lit("homozygous"))
        .otherwise(F.lit("heterozygous"))
    )
    genotype_zh = (
        F.when(genotype == "homozygous", F.lit("同型合子（homozygous）"))
        .when(genotype == "heterozygous", F.lit("異型合子（heterozygous）"))
        .otherwise(F.lit(""))
    )

    hgvsc_raw = _dot("vep_hgvsc")
    has_hgvsc = hgvsc_raw != "."
    reference = F.when(has_hgvsc, F.substring_index(hgvsc_raw, ":", 1)).otherwise(F.lit("."))
    hgvsc = F.when(has_hgvsc, F.substring_index(hgvsc_raw, ":", -1)).otherwise(F.lit("."))
    # HGVSc.split('.')[-1] → "107A>G"; find_CDS_pos → "107"
    cds_raw = F.when(has_hgvsc, find_cds_pos(F.substring_index(hgvsc, ".", -1))).otherwise(F.lit("."))
    exon_intron = (
        F.when(~has_hgvsc, F.lit("intron"))  # no HGVSc → usually intron (l.113)
        .when(cds_raw.startswith("*"), F.lit("3'-UTR"))
        .when(cds_raw.startswith("-"), F.lit("5'-UTR"))
        .when(cds_raw.rlike(r"[+\-]"), F.lit("intron"))
        .otherwise(F.lit("exon"))
    )
    exon_intron_zh = (
        F.when(exon_intron == "3'-UTR", F.lit("三端非轉譯區"))
        .when(exon_intron == "5'-UTR", F.lit("五端非轉譯區"))
        .when(exon_intron == "intron", F.lit("內含子"))
        .otherwise(F.lit("外顯子"))
    )
    cds_position = F.when(has_hgvsc, F.array_join(F.split(cds_raw, "_"), ", ")).otherwise(F.lit("."))

    rank_raw = _dot("vep_exon_intron_rank")
    rank0 = F.substring_index(rank_raw, "/", 1)
    in_exon_or_intron = exon_intron.isin("exon", "intron")
    exon_or_intron_rank = (
        F.when(rank_raw == ".", exon_intron)
        .when(in_exon_or_intron, F.concat_ws(" ", exon_intron, rank0))
        .otherwise(exon_intron)
    )
    # NB reference quirk replicated: the missing-rank else-branch assigns the
    # *English* exon_intron to the zhtw field (VarSum_germline.py:126)
    exon_or_intron_rank_zh = (
        F.when(rank_raw == ".", exon_intron)
        .when(in_exon_or_intron, F.concat(F.lit("第"), rank0, exon_intron_zh))
        .otherwise(exon_intron_zh)
    )

    hgvsp_raw = _dot("vep_hgvsp")
    hgvsp = F.when(hgvsp_raw != ".", F.substring_index(hgvsp_raw, ":", -1)).otherwise(F.lit("."))

    cons_raw = _dot("vep_consequence")
    cons_list = F.transform(F.split(cons_raw, ","), lambda c: F.trim(c))
    cons_en_list = F.transform(cons_list, _consequence_en_item)
    consequence = F.when(cons_raw == ".", F.lit("")).otherwise(
        F.array_join(cons_en_list, ", ")
    )
    cons_zh_list = F.zip_with(
        cons_list,
        cons_en_list,
        lambda c, en: F.coalesce(F.concat(vep_zh[c], F.lit("（"), en, F.lit("）")), en),
    )
    consequence_zh = F.when(cons_raw == ".", F.lit("")).otherwise(
        F.array_join(cons_zh_list, "、")
    )

    cln_raw = _dot("clinvar_clnsig")
    clinvar_record = F.when(
        cln_raw != ".", F.array_join(F.split(cln_raw, "_"), " ")
    ).otherwise(F.lit("."))
    cln_lower = F.lower(F.trim(clinvar_record))
    clinvar_record_zh = (
        F.when(cln_raw == ".", F.lit("."))
        .when(
            cln_lower == "conflicting plp",
            F.concat(
                F.lit("『致病性判讀有衝突』（"), cln_lower,
                F.lit("）（有些紀錄為「致病（pathogenic）」或「高度懷疑致病（likely pathogenic）」）"),
            ),
        )
        .when(
            cln_lower == "conflicting",
            F.concat(F.lit("『致病性判讀有衝突』（"), cln_lower, F.lit("）")),
        )
        .when(
            clinvar_zh[cln_lower].isNotNull(),
            F.concat(F.lit("『"), clinvar_zh[cln_lower], F.lit("』（"), cln_lower, F.lit("）")),
        )
        .otherwise(F.concat(F.lit("『"), cln_lower, F.lit("』")))
    )

    vep_tid = _dot("vep_transcript_id")
    annovar_tid = _dot("annovar_transcript_id")
    transcriptid_mane = (
        F.when(vep_tid != ".", F.substring_index(vep_tid, ".", 1))
        .when(annovar_tid != ".", F.substring_index(annovar_tid, ".", 1))
        .otherwise(F.lit("."))
    )
    ps_tids = _dot("ps_transcript_ids")
    tid_list = F.transform(F.split(ps_tids, ";"), lambda t: F.trim(t))
    # 0-based index of the MANE transcript; -1 when absent (array_position
    # is 1-based, 0 when missing)
    transcriptid_index = F.when(
        ps_tids == ".", F.lit(-1)
    ).otherwise((F.array_position(tid_list, transcriptid_mane) - 1).cast("int"))

    def indexed(col_name: str) -> Column:
        """Pick the MANE transcript's entry from a ';'-joined score list
        (VarSum_germline.py:186-202)."""
        raw = _dot(col_name)
        parts = F.split(raw, ";")
        # bound the index against the list length: a short score list gets
        # the '.' sentinel (the engine's contract everywhere else) instead
        # of a NULL with three-valued semantics in the pathogenicity flag
        return F.when(
            (transcriptid_index >= 0)
            & (raw != ".")
            & (F.size(parts) > transcriptid_index),
            F.element_at(parts, transcriptid_index + 1),
        ).otherwise(F.lit("."))

    sift = indexed("ps_sift")
    polyphen2 = indexed("ps_polyphen2")
    vest4 = indexed("ps_vest4")
    provean = indexed("ps_provean")
    cadd = _dot("cadd_phred")
    dann = F.when(_dot("dann_score") == ".", F.lit(".")).otherwise(
        _fmt(F.col("dann_score"), 3)
    )
    has_spliceai = _dot("spliceai_ds_ag") != "."
    sp = {
        k: F.when(has_spliceai, _fmt(F.col(f"spliceai_ds_{k.lower()}"), 3)).otherwise(F.lit("."))
        for k in ("AG", "AL", "DG", "DL")
    }
    pathogenicity = F.when(
        (sift != ".") | (polyphen2 != ".") | (cadd != ".") | (vest4 != ".")
        | (provean != ".") | (dann != ".") | has_spliceai,
        F.lit("recorded"),
    ).otherwise(F.lit("."))

    phylop = F.when(_dot("phylop100way_rank") == ".", F.lit(".")).otherwise(
        _fmt(F.col("phylop100way_rank"), 3)
    )
    conservation = F.when(phylop != ".", F.lit("recorded")).otherwise(F.lit("."))

    gnomad_freq = F.when(_dot("gnomad_af_popmax") == ".", F.lit(".")).otherwise(
        _fmt(F.col("gnomad_af_popmax"), 6)
    )
    twb_freq = F.when(_dot("taiwanbiobank_af") == ".", F.lit(".")).otherwise(
        _fmt(F.col("taiwanbiobank_af"), 6)
    )

    hot_raw = _dot("hotspot_dbs")
    # the reference uses list(set(...)) (order nondeterministic!); we keep
    # first-occurrence order — deterministic and stable under resume
    dbs = F.array_distinct(F.transform(F.split(hot_raw, ","), lambda d: F.trim(d)))
    n_dbs = F.size(dbs)
    hotspot = (
        F.when(hot_raw == ".", F.lit("."))
        .when(
            n_dbs > 2,
            F.concat(
                F.array_join(F.slice(dbs, 1, n_dbs - 1), ", "),
                F.lit(", and "),
                F.element_at(dbs, -1),
            ),
        )
        .otherwise(F.array_join(dbs, " and "))
    )
    hotspot_zh = (
        F.when(hot_raw == ".", F.lit("."))
        .when(
            n_dbs > 2,
            F.concat(
                F.array_join(F.slice(dbs, 1, n_dbs - 1), "、"),
                F.lit("和"),
                F.element_at(dbs, -1),
            ),
        )
        .otherwise(F.array_join(dbs, "和"))
    )

    return df.select(
        gene_name.alias("gene_name"),
        genotype.alias("genotype"),
        genotype_zh.alias("genotype_zhtw"),
        reference.alias("reference"),
        hgvsc.alias("hgvsc"),
        cds_position.alias("cds_position"),
        exon_intron.alias("exon_intron"),
        exon_intron_zh.alias("exon_intron_zhtw"),
        exon_or_intron_rank.alias("exon_or_intron_rank"),
        exon_or_intron_rank_zh.alias("exon_or_intron_rank_zhtw"),
        hgvsp.alias("hgvsp"),
        parse_hgvsp_col(F.when(hgvsp != ".", hgvsp)).alias("hgvsp_parsed"),
        consequence.alias("consequence"),
        consequence_zh.alias("consequence_zhtw"),
        clinvar_record.alias("clinvar_record"),
        clinvar_record_zh.alias("clinvar_record_zhtw"),
        transcriptid_mane.alias("transcriptid_mane"),
        transcriptid_index.alias("transcriptid_index"),
        sift.alias("sift"),
        polyphen2.alias("polyphen2"),
        vest4.alias("vest4"),
        provean.alias("provean"),
        cadd.alias("cadd_phred"),
        dann.alias("dann"),
        sp["AG"].alias("spliceai_ag"),
        sp["AL"].alias("spliceai_al"),
        sp["DG"].alias("spliceai_dg"),
        sp["DL"].alias("spliceai_dl"),
        pathogenicity.alias("pathogenicity"),
        phylop.alias("phylop100way"),
        conservation.alias("conservation"),
        gnomad_freq.alias("gnomad_freq"),
        twb_freq.alias("taiwanbiobank_freq"),
        hotspot.alias("hotspot"),
        hotspot_zh.alias("hotspot_zhtw"),
    )


def _pathogenicity_pairs(row: dict) -> list[tuple[str, str]]:
    """(software, value) pairs with a record, spliceAI flattened
    (VarSum_germline.py:415-424)."""
    out = []
    for key, col in [
        ("SIFT", "sift"), ("PolyPhen2", "polyphen2"), ("CADD-phred", "cadd_phred"),
        ("VEST4", "vest4"), ("PROVEAN", "provean"), ("DANN", "dann"),
    ]:
        v = row.get(col)
        if v and v != ".":
            out.append((key, v))
    sub = [
        (k, row.get(f"spliceai_{k.lower()}"))
        for k in ("AG", "AL", "DG", "DL")
        if row.get(f"spliceai_{k.lower()}") and row.get(f"spliceai_{k.lower()}") != "."
    ]
    if sub:
        out.append(("spliceAI", "、".join(f"{k} = {v}" for k, v in sub)))
    return out


def ordinal_pos(num: str) -> str:
    """ordinal_suffix over HGVS positions that may carry */-/+ markers
    (VarSum_utils.py:20-35): the suffix is decided by the digits after the
    last marker, the whole token is kept."""
    import re as _re

    marks = _re.findall(r"[*\-+]", num)
    tail = num.split(marks[-1])[-1] if marks else num
    j, k = int(tail) % 10, int(tail) % 100
    if j == 1 and k != 11:
        return num + "st"
    if j == 2 and k != 12:
        return num + "nd"
    if j == 3 and k != 13:
        return num + "rd"
    return num + "th"


def _cds_phrase_en(row: dict) -> str:
    """'at the 107th' / 'between the Xth and the Yth' / 'from the Xth to
    the Yth' nucleotide phrase (VarSum_germline.py:445-456)."""
    positions = (row.get("cds_position") or ".").split(", ")
    if len(positions) > 1:
        joiner = (
            ("from the ", " to the ")
            if any(a in (row.get("hgvsc") or "") for a in ("del", "dup"))
            else ("between the ", " and the ")
        )
        return joiner[0] + joiner[1].join(ordinal_pos(p) for p in positions)
    return "at the " + ordinal_pos(positions[0])


def _cds_phrase_zh(row: dict) -> str:
    """Zh nucleotide-position phrase (VarSum_germline.py:352-358)."""
    positions = (row.get("cds_position") or ".").split(", ")
    if len(positions) > 1:
        if any(a in (row.get("hgvsc") or "") for a in ("del", "dup")):
            return "從" + "至".join("第" + p for p in positions) + "個核苷酸"
        return "在" + "和".join("第" + p for p in positions) + "個核苷酸之間"
    return f"第{positions[0]}個核苷酸"


def render_report_en(row: dict) -> str:
    """Full English germline report (template_enus,
    VarSum_germline.py:444-585). Template variants are chosen with a
    content-seeded RNG — the reference randomizes (l.740-752); here output
    is deterministic per record."""
    rng = random.Random(f"{REPORT_SEED}:en:{row.get('gene_name')}:{row.get('hgvsc')}:{row.get('hgvsp')}")
    parts: list[str] = []
    if row.get("gene_name", ".") != ".":
        if row.get("hgvsc", ".") == ".":
            parts.append(
                f"A {row.get('genotype')} {row.get('consequence')} variant is "
                f"detected in the {row['gene_name']} gene."
            )
        else:
            pos = _cds_phrase_en(row)
            variants = [
                f"A {row.get('genotype')} {row.get('consequence')} variant "
                f"({row['hgvsc']}) is detected {pos} nucleotide in "
                f"{row.get('exon_or_intron_rank')} of the {row['gene_name']} "
                f"gene ({row.get('reference')}).",
                f"In the {row['gene_name']} gene, a {row.get('genotype')} "
                f"{row.get('consequence')} variant ({row['hgvsc']}) has been "
                f"detected {pos} nucleotide position in "
                f"{row.get('exon_or_intron_rank')} ({row.get('reference')}).",
                f"The {row['gene_name']} gene exhibits a {row.get('genotype')} "
                f"{row.get('consequence')} variant ({row['hgvsc']}) {pos} "
                f"nucleotide in {row.get('exon_or_intron_rank')} "
                f"({row.get('reference')}).",
            ]
            parts.append(rng.choice(variants))
    parsed = row.get("hgvsp_parsed") or {}
    if isinstance(parsed, dict) and parsed.get("text"):
        parts.append(f"At the protein level this is {parsed['text']}.")
    if row.get("clinvar_record", ".") != ".":
        parts.append(
            rng.choice(
                [
                    f"This variant is recorded as '{row['clinvar_record']}' in the ClinVar database.",
                    f"The ClinVar database classifies this variant as '{row['clinvar_record']}.'",
                    f"In ClinVar, this variant is documented with the status '{row['clinvar_record']}.'",
                ]
            )
        )
    if row.get("hotspot", ".") != ".":
        parts.append(
            f"This variant is situated within a hotspot region known for "
            f"high pathogenicity, as documented in {row['hotspot']}."
        )
    if row.get("gnomad_freq", ".") != ".":
        parts.append(f"Its gnomAD popmax allele frequency is {row['gnomad_freq']}.")
    if row.get("taiwanbiobank_freq", ".") != ".":
        parts.append(
            f"Its allele frequency in the Taiwan BioBank is {row['taiwanbiobank_freq']}."
        )
    if row.get("pathogenicity") == "recorded":
        preds = ", ".join(f"{k} = {v}" for k, v in _pathogenicity_pairs(row))
        parts.append(f"Pathogenicity predictions: {preds}.")
    if row.get("conservation") == "recorded":
        parts.append(
            f"The phyloP100way conservation rankscore is {row['phylop100way']}."
        )
    return " ".join(parts)


def render_report_zh(row: dict) -> str:
    """Full Traditional-Chinese germline report (template_zhtw,
    VarSum_germline.py:333-441), deterministic template choice."""
    rng = random.Random(f"{REPORT_SEED}:zh:{row.get('gene_name')}:{row.get('hgvsc')}:{row.get('hgvsp')}")
    parts: list[str] = []
    if row.get("gene_name", ".") != ".":
        if row.get("hgvsc", ".") == ".":
            if not row.get("genotype"):
                parts.append(
                    f"個案之{row['gene_name']}基因偵測到{row.get('consequence_zhtw')}變異。"
                )
            else:
                parts.append(
                    f"檢測結果顯示，{row['gene_name']}基因序列含有一個"
                    f"{row.get('genotype_zhtw')}{row.get('consequence_zhtw')}變異。"
                )
        else:
            pos = _cds_phrase_zh(row)
            if not row.get("genotype"):
                variants = [
                    f"個案之{row['gene_name']}（{row.get('reference')}）基因"
                    f"{row.get('exon_or_intron_rank_zhtw')}偵測到{row['hgvsc']}"
                    f"核苷酸{row.get('consequence_zhtw')}變異。",
                    f"此個案之{row['gene_name']}基因序列（{row.get('reference')}）"
                    f"{pos}發生{row.get('consequence_zhtw')}變異（{row['hgvsc']}）。",
                ]
            else:
                variants = [
                    f"個案之{row['gene_name']}（{row.get('reference')}）基因"
                    f"{row.get('exon_or_intron_rank_zhtw')}偵測到{row['hgvsc']}"
                    f"核苷酸{row.get('consequence_zhtw')}變異。",
                    f"檢測結果顯示，此個案之{row['gene_name']}基因序列"
                    f"（{row.get('reference')}）{pos}（位於"
                    f"{row.get('exon_or_intron_rank_zhtw')}中）發生一個"
                    f"{row.get('genotype_zhtw')}{row.get('consequence_zhtw')}"
                    f"變異（{row['hgvsc']}）。",
                ]
            parts.append(rng.choice(variants))
    if row.get("clinvar_record", ".") != ".":
        parts.append(
            f"此變異於ClinVar資料庫中之致病性紀錄{row.get('clinvar_record_zhtw')}。"
        )
    if row.get("hotspot", ".") != ".":
        parts.append(
            f"根據{row.get('hotspot_zhtw')}資料庫中記錄之致病性變異，"
            f"此變異位於基因高度致病性之熱點區（hotspot region）中。"
        )
    if row.get("gnomad_freq", ".") != ".":
        parts.append(
            f"在世界基因體計畫gnomAD資料庫對偶基因頻率為{row['gnomad_freq']}，"
        )
    if row.get("taiwanbiobank_freq", ".") != ".":
        parts.append(
            f"在臺灣人體生物資料庫對偶基因頻率為{row['taiwanbiobank_freq']}。"
        )
    if row.get("pathogenicity") == "recorded":
        pairs = _pathogenicity_pairs(row)
        preds = "，".join(
            (f"{k}的{v}" if k == "spliceAI" else f"{k} = {v}") for k, v in pairs
        )
        hints = "；".join(PATHOGENICITY_HINT_ZH[k] for k, _ in pairs)
        parts.append(f"此外，此變異點之{preds}（{hints}，表示較高的致病性）。")
    if row.get("conservation") == "recorded":
        parts.append(
            f"而phyloP100way預測之保守性分數（conservation score）為"
            f"{row['phylop100way']}。"
        )
    return "".join(parts)

