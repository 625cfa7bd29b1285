"""VarSum record cleaning + report NLG."""

from __future__ import annotations

from pubmedkb_web_spark.query import varsum as V


FULL_COLS = (
    "vep_gene_name string, format_gt string, vep_hgvsc string, "
    "vep_consequence string, vep_hgvsp string, vep_exon_intron_rank string, "
    "clinvar_clnsig string, vep_transcript_id string, annovar_transcript_id string, "
    "gnomad_af_popmax string, taiwanbiobank_af string, hotspot_dbs string, "
    "ps_transcript_ids string, ps_sift string, ps_polyphen2 string, "
    "ps_vest4 string, ps_provean string, cadd_phred string, dann_score string, "
    "spliceai_ds_ag string, spliceai_ds_al string, spliceai_ds_dg string, "
    "spliceai_ds_dl string, phylop100way_rank string"
)


def _full_rows(spark):
    rows = [
        # hand-computed reference trace (VarSum_germline.py:55-277)
        ("BRCA1", "0/1", "NM_007294.4:c.68_69del", "frameshift_variant",
         "NP_009225.1:p.Glu23ValfsTer17", "2/23", "Pathogenic",
         "ENST00000357654.9", ".", "0.00301205", ".", "DeafnessVD,ClinVar,DeafnessVD",
         "ENST00000357654;ENST00000471181", ".;0.129", "0.997;.", "0.9;0.8",
         "D;N", "16.91", "0.9577714132251449", "0.0", "0.01", "0.2", "0.35",
         "0.20738"),
        # sparse record: everything missing
        (".", ".", ".", ".", ".", ".", ".", ".", ".", ".", ".", ".",
         ".", ".", ".", ".", ".", ".", ".", ".", ".", ".", ".", "."),
        # 3'-UTR + intronic + 3-db hotspot + MANE not in prediction list
        ("TP53", "1/1", "NM_000546.6:c.*52del", "3_prime_UTR_variant,intron_variant",
         ".", "11/11", "Likely_benign", ".", "ENST00000269305.9",
         ".", "0.004", "A,B,C", "ENSTX;ENSTY", "0.5;0.6", ".", ".", ".",
         ".", "bad", ".", ".", ".", ".", "."),
        # intronic c.N-M HGVSc, no protein change
        ("TP53", "0/1", "NM_000546.6:c.376-2A>G", "splice_acceptor_variant",
         ".", "4/10", "Likely_pathogenic", ".", ".", ".", ".", ".", ".", ".",
         ".", ".", ".", ".", ".", ".", ".", ".", ".", "."),
    ]
    return spark.createDataFrame(rows, FULL_COLS)


def test_full_table_cleaning(spark):
    r0, r1, r2, r3 = V.clean_varsum_table(_full_rows(spark)).collect()

    # record 0: full trace
    assert r0["gene_name"] == "BRCA1"
    assert r0["genotype"] == "heterozygous"
    assert r0["genotype_zhtw"] == "異型合子（heterozygous）"
    assert r0["reference"] == "NM_007294.4"
    assert r0["hgvsc"] == "c.68_69del"
    assert r0["cds_position"] == "68, 69"
    assert r0["exon_intron"] == "exon"
    assert r0["exon_or_intron_rank"] == "exon 2"
    assert r0["exon_or_intron_rank_zhtw"] == "第2外顯子"
    assert r0["hgvsp"] == "p.Glu23ValfsTer17"
    parsed = r0["hgvsp_parsed"]
    assert (parsed["kind"], parsed["ref_aa"], parsed["pos_start"], parsed["alt_aa"]) == ("fs", "E", 23, "V")
    assert parsed["text"] == "frameshift at the 23rd residue, terminating after 17 residues"
    assert r0["consequence"] == "frameshift"
    assert r0["consequence_zhtw"] == "框移（frameshift）"
    assert r0["clinvar_record"] == "Pathogenic"
    assert r0["clinvar_record_zhtw"] == "『致病』（pathogenic）"
    assert r0["transcriptid_mane"] == "ENST00000357654"
    assert r0["transcriptid_index"] == 0
    assert r0["sift"] == "."          # ".;0.129"[0]
    assert r0["polyphen2"] == "0.997"
    assert r0["vest4"] == "0.9"
    assert r0["provean"] == "D"
    assert r0["cadd_phred"] == "16.91"
    assert r0["dann"] == "0.958"
    assert r0["spliceai_ag"] == "0.000" and r0["spliceai_dl"] == "0.350"
    assert r0["pathogenicity"] == "recorded"
    assert r0["phylop100way"] == "0.207"
    assert r0["conservation"] == "recorded"
    assert r0["gnomad_freq"] == "0.003012"
    assert r0["taiwanbiobank_freq"] == "."
    assert r0["hotspot"] == "DeafnessVD and ClinVar"      # dedup, 2 dbs
    assert r0["hotspot_zhtw"] == "DeafnessVD和ClinVar"

    # record 1: sparse — sentinel propagation + the reference's quirks
    assert r1["gene_name"] == "." and r1["genotype"] == ""
    assert r1["exon_intron"] == "intron"        # no HGVSc → intron (l.113)
    assert r1["exon_or_intron_rank"] == "intron"
    assert r1["exon_or_intron_rank_zhtw"] == "intron"  # quirk at l.126
    assert r1["consequence"] == "" and r1["clinvar_record"] == "."
    assert r1["pathogenicity"] == "." and r1["conservation"] == "."
    assert r1["hotspot"] == "." and r1["transcriptid_index"] == -1
    assert r1["hgvsp"] == "."
    assert r1["hgvsp_parsed"]["kind"] == "unknown" and r1["hgvsp_parsed"]["text"] is None

    # record 2: homozygous, 3'-UTR, multi-consequence, 3-db hotspot, MANE
    # not in list
    assert r2["genotype"] == "homozygous"
    assert r2["genotype_zhtw"] == "同型合子（homozygous）"
    assert r2["cds_position"] == "*52"
    assert r2["exon_intron"] == "3'-UTR"
    assert r2["exon_or_intron_rank"] == "3'-UTR"  # UTR → no rank
    assert r2["consequence"] == "3 prime UTR, intron"
    assert r2["consequence_zhtw"] == "三端非轉譯區（3 prime UTR）、內含子（intron）"
    assert r2["clinvar_record_zhtw"] == "『高度懷疑良性』（likely benign）"
    assert r2["transcriptid_mane"] == "ENST00000269305"
    assert r2["transcriptid_index"] == -1  # not in ps list → no indexed preds
    assert r2["sift"] == "."
    assert r2["dann"] == "."               # unparsable 'bad' → '.'
    assert r2["pathogenicity"] == "."
    assert r2["taiwanbiobank_freq"] == "0.004000"
    assert r2["hotspot"] == "A, B, and C"
    assert r2["hotspot_zhtw"] == "A、B和C"

    # record 3: intronic position keeps its offset, rank names the intron
    assert r3["genotype"] == "heterozygous"
    assert r3["hgvsc"] == "c.376-2A>G" and r3["cds_position"] == "376-2"
    assert r3["exon_intron"] == "intron" and r3["exon_intron_zhtw"] == "內含子"
    assert r3["exon_or_intron_rank"] == "intron 4"
    assert r3["exon_or_intron_rank_zhtw"] == "第4內含子"
    assert r3["consequence"] == "splice acceptor"
    assert r3["clinvar_record"] == "Likely pathogenic"


def test_full_reports(spark):
    rows = [r.asDict(recursive=True) for r in V.clean_varsum_table(_full_rows(spark)).collect()]
    en = V.render_report_en(rows[0])
    assert "BRCA1" in en and "heterozygous" in en and "c.68_69del" in en
    assert "from the 68th to the 69th" in en  # del → from/to phrasing
    assert "'Pathogenic" in en and "DeafnessVD and ClinVar" in en
    assert "0.003012" in en and "PolyPhen2 = 0.997" in en
    assert (
        "At the protein level this is frameshift at the 23rd residue, "
        "terminating after 17 residues." in en
    )
    assert en == V.render_report_en(rows[0])  # deterministic
    zh = V.render_report_zh(rows[0])
    assert "BRCA1" in zh and "異型合子" in zh and "框移" in zh
    assert "『致病』" in zh and "0.003012" in zh
    assert "SIFT值越接近0" not in zh  # SIFT unrecorded for this transcript
    assert "PolyPhen2值越接近1" in zh
    en3 = V.render_report_en(rows[3])
    assert "at the 376-2nd nucleotide" in en3 and "intron 4" in en3
    assert "At the protein level" not in en3  # no HGVSp, no protein sentence
    # UTR positions keep their markers in ordinal phrases
    assert V.ordinal_pos("*52") == "*52nd"
    assert V.ordinal_pos("376-2") == "376-2nd"
    assert V.ordinal_pos("111") == "111th"

