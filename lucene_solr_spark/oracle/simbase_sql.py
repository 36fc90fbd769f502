"""DuckDB twins of the SimilarityBase gate-mode scores, used by the
gate's oracle SQL (``__spark_entry__._simbase_term_sql``).

Kept apart from the engine's ``query/similarities.py`` on purpose: the
twin is what the engine's float64 gate scores are checked against, so it
is written independently of them (formulas and citations are in the
engine module's class docstrings).
"""

#: AxiomaticF2EXP defaults (Axiomatic.java:96-99)
AX_S = 0.25
AX_K = 0.35


def oracle_sql_score(sim: str) -> str:
    """DuckDB score expression for the gate oracles, over the shared
    tokenization CTE columns ``tf``, ``dl``, ``ts.doc_freq``,
    ``ts.ttf`` and field-stats scalars ``fs.doc_count``/``fs.sttf``
    (avgdl = fs.sttf / fs.doc_count in double) — operation-for-
    operation the twin of the engine's float64 gate scores."""
    avgdl = "(fs.sttf * 1.0 / fs.doc_count)"
    if sim == "bool":
        return "1.0"
    if sim == "dfi":
        exp = "((ts.ttf + 1.0) * dl / (fs.sttf + 1.0))"
        return (
            f"CASE WHEN tf <= {exp} THEN 0.0 ELSE "
            f"LN((tf - {exp}) * (tf - {exp}) / {exp} + 1.0) / LN(2.0) END"
        )
    if sim == "ax":
        return (
            f"tf / (tf + {AX_S} + {AX_S} * dl / {avgdl})"
            f" * POWER((fs.doc_count + 1.0) / ts.doc_freq, {AX_K})"
        )
    tfn = f"(tf * (LN(1.0 + {avgdl} / dl) / LN(2.0)))"
    if sim == "dfr":
        return (
            f"{tfn} * (LN((fs.doc_count + 1.0) / (ts.doc_freq + 0.5))"
            f" / LN(2.0)) / ({tfn} + 1.0)"
        )
    # ib
    lam = "((ts.doc_freq + 1.0) / (fs.doc_count + 1.0))"
    return f"-LN({lam} / ({tfn} + {lam}))"
