#!/usr/bin/env python3
"""Dev harness for building the q_fia_pipeline_oracle DuckDB SQL.

Builds the oracle SQL stage by stage and compares each stage against the
Spark dumps written by graft.tools.FiaOracle. Exact-value compare, same
canon as dev/check.py. Usage: python3 dev/fia_oracle_dev.py [stage]
"""
import sys
import duckdb
import pandas as pd

IN = "/tmp/graft_fia_oracle_input"
ST = "/tmp/fia_oracle_stages"
REF = "/root/repo/src/main/resources/graft/refdata"

# ---------------------------------------------------------------- tidy
RAW = f"""
plot_raw AS (SELECT * FROM read_parquet('{IN}/PLOT/*.parquet')),
pg_raw   AS (SELECT * FROM read_parquet('{IN}/PLOTGEOM/*.parquet')),
cond_raw AS (SELECT * FROM read_parquet('{IN}/COND/*.parquet')),
tree_raw AS (SELECT * FROM read_parquet('{IN}/TREE/*.parquet'))
"""

TIDY = f"""
plotg AS (SELECT CAST(CN AS VARCHAR) AS PLT_CN, INVYR, ECOSUBCD
          FROM pg_raw WHERE INVYR >= 2000),
plott AS (SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
                 CAST(CN AS VARCHAR) AS PLT_CN, INVYR, DESIGNCD, INTENSITY
          FROM plot_raw WHERE INVYR >= 2000),
condt AS (SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
                 CAST(PLT_CN AS VARCHAR) AS PLT_CN, INVYR, CONDID,
                 CONDPROP_UNADJ, PROP_BASIS, COND_STATUS_CD, STDORGCD
          FROM cond_raw WHERE INVYR >= 2000),
treet AS (SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
                 concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT, SUBP, TREE) AS tree_ID,
                 INVYR, CAST(PLT_CN AS VARCHAR) AS PLT_CN, CONDID, MORTYR,
                 STATUSCD, RECONCILECD, DECAYCD, STANDING_DEAD_CD,
                 DIA, CR, HT, ACTUALHT, CULL, SPCD
          FROM tree_raw WHERE INVYR >= 2000),
j1 AS (SELECT p.plot_ID, t.tree_ID, p.INVYR, p.PLT_CN, p.DESIGNCD, p.INTENSITY,
              t.CONDID, t.MORTYR, t.STATUSCD, t.RECONCILECD, t.DECAYCD,
              t.STANDING_DEAD_CD, t.DIA, t.CR, t.HT, t.ACTUALHT, t.CULL, t.SPCD
       FROM plott p LEFT JOIN treet t
         ON p.plot_ID = t.plot_ID AND p.PLT_CN = t.PLT_CN AND p.INVYR = t.INVYR),
j2 AS (SELECT j1.*, g.ECOSUBCD FROM j1
       LEFT JOIN plotg g ON j1.INVYR = g.INVYR AND j1.PLT_CN = g.PLT_CN),
j3 AS (SELECT j2.*, c.CONDPROP_UNADJ, c.PROP_BASIS, c.COND_STATUS_CD, c.STDORGCD
       FROM j2 LEFT JOIN condt c
         ON j2.plot_ID = c.plot_ID AND j2.INVYR = c.INVYR
        AND j2.PLT_CN = c.PLT_CN AND j2.CONDID IS NOT DISTINCT FROM c.CONDID),
tidy AS (SELECT * REPLACE (
    coalesce(
      last_value(MORTYR IGNORE NULLS) OVER
        (PARTITION BY tree_ID ORDER BY INVYR
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      first_value(MORTYR IGNORE NULLS) OVER
        (PARTITION BY tree_ID ORDER BY INVYR
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS MORTYR,
    last_value(SPCD) OVER
      (PARTITION BY tree_ID ORDER BY INVYR
       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS SPCD,
    coalesce(ACTUALHT, HT) AS ACTUALHT)
  FROM j3)
"""

SQL_TIDY = f"WITH {RAW}, {TIDY} SELECT * FROM tidy"


def canon(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def compare(name, sql, dump, cols=None):
    got = duckdb.sql(f"SELECT * FROM read_parquet('{ST}/{dump}/*.parquet')").df()
    exp = duckdb.sql(sql).df()
    if cols:
        got, exp = got[cols], exp[cols]
    g, e = canon(got), canon(exp)
    if sorted(g.columns) != sorted(e.columns):
        print(f"[FAIL-schema] {name}: spark={sorted(g.columns)}\n oracle={sorted(e.columns)}")
        return False
    if len(g) != len(e):
        print(f"[FAIL-rows] {name}: spark={len(g)} oracle={len(e)}")
        return False
    ok = True
    for c in g.columns:
        a, b = g[c], e[c]
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            extra = ""
            if pd.api.types.is_numeric_dtype(a):
                try:
                    extra = f" maxabsdiff={(a-b).abs().max()}"
                except Exception:
                    pass
            print(f"[FAIL-vals] {name}.{c}: row{i} spark={a[i]!r} oracle={b[i]!r}{extra} "
                  f"(bad={int((~eq).sum())}/{len(eq)})")
            ok = False
    if ok:
        print(f"[ok] {name}: {len(g)} rows")
    return ok


if __name__ == "__main__":
    stage = sys.argv[1] if len(sys.argv) > 1 else "tidy"
    if stage == "tidy":
        compare("tidy", SQL_TIDY, "tidy")

# ---------------------------------------------------------- interp
LINEAR = ["ACTUALHT", "DIA", "HT", "CULL", "CR", "CONDPROP_UNADJ"]
STEP = ["PLT_CN", "STATUSCD", "RECONCILECD", "DECAYCD", "STANDING_DEAD_CD",
        "STDORGCD", "CONDID", "COND_STATUS_CD"]
FILL = ["INTENSITY", "SPCD", "ECOSUBCD", "DESIGNCD", "PROP_BASIS", "MORTYR"]
SENT = ["STATUSCD", "RECONCILECD", "DECAYCD", "STANDING_DEAD_CD",
        "STDORGCD", "CONDID", "COND_STATUS_CD"]


def interp_sql():
    sent = ",\n    ".join(
        f"CASE WHEN {c} IS NULL THEN 999 ELSE {c} END AS {c}" for c in SENT)
    pre = f"""
pre AS (SELECT * REPLACE (
    {sent},
    CASE WHEN CULL IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CULL END AS CULL)
  FROM (SELECT * EXCLUDE (INVYR), INVYR AS YEAR FROM tidy)),
bounds AS (SELECT plot_ID, tree_ID, min(YEAR) AS mn, max(YEAR) AS mx
           FROM pre GROUP BY plot_ID, tree_ID),
grid AS (SELECT plot_ID, tree_ID,
                CAST(unnest(generate_series(mn, mx)) AS INT) AS YEAR
         FROM bounds),
g AS (SELECT grid.plot_ID, grid.tree_ID, grid.YEAR,
             {", ".join("p." + c for c in LINEAR + STEP + FILL)},
             p.YEAR IS NULL AS interpolated
      FROM grid LEFT JOIN pre p
        ON grid.plot_ID IS NOT DISTINCT FROM p.plot_ID
       AND grid.tree_ID IS NOT DISTINCT FROM p.tree_ID
       AND grid.YEAR = p.YEAR)"""
    anch = []
    for c in LINEAR:
        anch.append(f"""
an_{c} AS (SELECT plot_ID, tree_ID, YEAR, {c},
    row_number() OVER (PARTITION BY plot_ID, tree_ID ORDER BY YEAR) AS rn,
    count(*) OVER (PARTITION BY plot_ID, tree_ID) AS cnt
  FROM pre WHERE {c} IS NOT NULL),
e_{c} AS (SELECT plot_ID, tree_ID, max(cnt) AS cnt_{c},
    max(CASE WHEN rn = 1 THEN YEAR END) AS x1_{c},
    max(CASE WHEN rn = 1 THEN {c} END) AS y1_{c},
    max(CASE WHEN rn = 2 THEN YEAR END) AS x2_{c},
    max(CASE WHEN rn = 2 THEN {c} END) AS y2_{c},
    max(CASE WHEN rn = cnt - 1 THEN YEAR END) AS xl2_{c},
    max(CASE WHEN rn = cnt - 1 THEN {c} END) AS yl2_{c},
    max(CASE WHEN rn = cnt THEN YEAR END) AS xl_{c},
    max(CASE WHEN rn = cnt THEN {c} END) AS yl_{c}
  FROM an_{c} GROUP BY plot_ID, tree_ID)""")
    wexprs = []
    for c in LINEAR + STEP:
        wexprs.append(f"last_value({c} IGNORE NULLS) OVER wdown AS pv_{c}")
        wexprs.append(f"last_value(CASE WHEN {c} IS NOT NULL THEN YEAR END IGNORE NULLS) OVER wdown AS py_{c}")
        wexprs.append(f"first_value({c} IGNORE NULLS) OVER wup AS nv_{c}")
        wexprs.append(f"first_value(CASE WHEN {c} IS NOT NULL THEN YEAR END IGNORE NULLS) OVER wup AS ny_{c}")
    for c in FILL:
        wexprs.append(
            f"coalesce(last_value({c} IGNORE NULLS) OVER wdown, "
            f"first_value({c} IGNORE NULLS) OVER wup) AS fill_{c}")
    wx = ",\n    ".join(wexprs)
    w = f"""
w AS (SELECT g.*,
    {wx}
  FROM g
  WINDOW wdown AS (PARTITION BY plot_ID, tree_ID ORDER BY YEAR
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wup AS (PARTITION BY plot_ID, tree_ID ORDER BY YEAR
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))"""
    lin_sel, step_sel, fill_sel = [], [], []
    for c in LINEAR:
        lin_sel.append(f"""
  CASE WHEN cnt_{c} IS NULL THEN NULL
       WHEN cnt_{c} = 1 THEN pv_{c}
       WHEN {c} IS NOT NULL THEN {c}
       WHEN pv_{c} IS NULL THEN y1_{c} + (CAST(w.YEAR - x1_{c} AS DOUBLE) * (y2_{c} - y1_{c})) / CAST(x2_{c} - x1_{c} AS DOUBLE)
       WHEN nv_{c} IS NULL THEN yl_{c} + (CAST(w.YEAR - xl_{c} AS DOUBLE) * (yl_{c} - yl2_{c})) / CAST(xl_{c} - xl2_{c} AS DOUBLE)
       ELSE pv_{c} + (nv_{c} - pv_{c}) * (CAST(w.YEAR - py_{c} AS DOUBLE) / CAST(ny_{c} - py_{c} AS DOUBLE))
  END AS {c}""")
    for c in STEP:
        step_sel.append(f"""
  CASE WHEN pv_{c} IS NULL THEN NULL
       WHEN nv_{c} IS NULL THEN pv_{c}
       WHEN 2 * (w.YEAR - py_{c}) < ny_{c} - py_{c} THEN pv_{c}
       ELSE nv_{c}
  END AS {c}""")
    for c in FILL:
        fill_sel.append(f"  fill_{c} AS {c}")
    ejoins = "\n  ".join(
        f"LEFT JOIN e_{c} ON w.plot_ID IS NOT DISTINCT FROM e_{c}.plot_ID "
        f"AND w.tree_ID IS NOT DISTINCT FROM e_{c}.tree_ID" for c in LINEAR)
    interp0 = f"""
interp0 AS (SELECT w.plot_ID, w.tree_ID, w.YEAR, w.interpolated,
  {",".join(lin_sel)},
  {",".join(step_sel)},
{",".join(fill_sel)}
  FROM w
  {ejoins})"""
    sent_dec = ",\n    ".join(
        f"CASE WHEN {c} = 999 THEN NULL ELSE {c} END AS {c}" for c in SENT)
    decoded = f"""
decoded AS (SELECT * REPLACE (
    {sent_dec})
  FROM (SELECT * REPLACE (CASE WHEN DIA < 5 THEN NULL ELSE CULL END AS CULL)
        FROM interp0)),
tpa AS (SELECT CAST(CAST(DESIGNCD AS DOUBLE) AS INT) AS DESIGNCD, CAST(min_DIA AS DOUBLE) AS min_DIA,
               CAST(max_DIA AS DOUBLE) AS max_DIA, CAST(TPA_UNADJ AS DOUBLE) AS TPA_UNADJ
        FROM read_csv('{REF}/DESIGNCD_TPA.csv', all_varchar = true, nullstr = ['NA', ''])),
refjk AS (SELECT CAST(CAST(SPCD AS DOUBLE) AS INT) AS SPCD, CAST(CAST(JENKINS_SPGRPCD AS DOUBLE) AS INT) AS JENKINS_SPGRPCD
          FROM read_csv('{REF}/REF_SPECIES.csv', all_varchar = true, nullstr = ['NA', ''])),
withtpa AS (SELECT d.*, t.TPA_UNADJ FROM decoded d
            LEFT JOIN tpa t ON d.DESIGNCD = t.DESIGNCD
              AND d.DIA >= t.min_DIA AND d.DIA < t.max_DIA),
interp AS (SELECT wt.* REPLACE (
    CASE WHEN ((r.JENKINS_SPGRPCD < 10 AND (wt.DIA < 1 OR wt.HT < 4.5 OR wt.ACTUALHT < 4.5))
            OR (r.JENKINS_SPGRPCD = 10 AND (wt.DIA < 1 OR wt.HT < 1 OR wt.ACTUALHT < 1)))
         THEN 2 ELSE wt.STATUSCD END AS STATUSCD,
    CASE WHEN ((r.JENKINS_SPGRPCD < 10 AND (wt.DIA < 1 OR wt.HT < 4.5 OR wt.ACTUALHT < 4.5))
            OR (r.JENKINS_SPGRPCD = 10 AND (wt.DIA < 1 OR wt.HT < 1 OR wt.ACTUALHT < 1)))
         THEN 0 ELSE wt.STANDING_DEAD_CD END AS STANDING_DEAD_CD)
  FROM withtpa wt LEFT JOIN refjk r ON wt.SPCD = r.SPCD)"""
    return pre + "," + ",".join(anch) + "," + w + "," + interp0 + "," + decoded


SQL_INTERP = f"WITH {RAW}, {TIDY}, {interp_sql()} SELECT * FROM interp"

# ---------------------------------------------------------- adjust
MEASURED = ["DIA", "HT", "ACTUALHT", "CULL", "CR"]


def mask_sql(name, src):
    m3 = ",\n    ".join(
        f"CASE WHEN STANDING_DEAD_CD = 0 THEN NULL ELSE {c} END AS {c}"
        for c in MEASURED)
    ns = ("((STATUSCD = 0 AND coalesce(RECONCILECD IN (5, 6, 9), false)) "
          "OR COND_STATUS_CD <> 1)")
    m4 = ",\n    ".join(
        f"CASE WHEN {ns} THEN NULL ELSE {c} END AS {c}" for c in MEASURED)
    return f"""
{name}_m1 AS (SELECT * REPLACE (
    CASE WHEN STATUSCD = 2 THEN STANDING_DEAD_CD END AS STANDING_DEAD_CD)
  FROM {src}),
{name}_m2 AS (SELECT * REPLACE (
    CASE WHEN STANDING_DEAD_CD = 1 THEN DECAYCD END AS DECAYCD)
  FROM {name}_m1),
{name}_m3 AS (SELECT * REPLACE (
    {m3})
  FROM {name}_m2),
{name}_m4 AS (SELECT * REPLACE (
    {m4})
  FROM {name}_m3)"""


def adjust_sql():
    mort = """
mort0 AS (SELECT i.*,
    max(CASE WHEN YEAR = MORTYR AND STATUSCD = 1 THEN MORTYR + 1 ELSE MORTYR END)
      OVER (PARTITION BY tree_ID) AS MORTYR_eff,
    min(CASE WHEN STATUSCD = 2 THEN YEAR END)
      OVER (PARTITION BY tree_ID) AS first_dead
  FROM interp i),
mort1 AS (SELECT * REPLACE (
    CASE WHEN MORTYR_eff IS NULL THEN STATUSCD
         WHEN MORTYR_eff = first_dead THEN STATUSCD
         WHEN MORTYR_eff < first_dead AND YEAR >= MORTYR_eff AND YEAR < first_dead THEN 2
         WHEN MORTYR_eff > first_dead AND YEAR < MORTYR_eff AND YEAR >= first_dead THEN 1
         ELSE STATUSCD END AS STATUSCD)
  FROM mort0),
mort2 AS (SELECT * EXCLUDE (MORTYR_eff, first_dead) REPLACE (
    first_value(DECAYCD IGNORE NULLS) OVER wup AS DECAYCD,
    first_value(STANDING_DEAD_CD IGNORE NULLS) OVER wup AS STANDING_DEAD_CD)
  FROM mort1
  WINDOW wup AS (PARTITION BY tree_ID ORDER BY YEAR
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))"""
    return (mort + "," + mask_sql("mid", "interp") + "," +
            mask_sql("mor", "mort2") + """,
ann AS (SELECT *, 'midpt' AS variant FROM mid_m4
        UNION ALL
        SELECT *, 'mortyr' AS variant FROM mor_m4)""")


SQL_ANN = f"WITH {RAW}, {TIDY}, {interp_sql()}, {adjust_sql()} SELECT * FROM ann"

# ---------------------------------------------------------- prep
PREP = f"""
refsp AS (SELECT CAST(CAST(SPCD AS DOUBLE) AS INT) AS SPCD, CAST(CAST(JENKINS_SPGRPCD AS DOUBLE) AS INT) AS JENKINS_SPGRPCD,
    CAST(SFTWD_HRDWD AS VARCHAR) AS SFTWD_HRDWD,
    CAST(CARBON_RATIO_LIVE AS DOUBLE) AS CARBON_RATIO_LIVE,
    CAST(WOOD_SPGR_GREENVOL_DRYWT AS DOUBLE) AS WDSG
  FROM read_csv('{REF}/REF_SPECIES.csv', all_varchar = true, nullstr = ['NA', ''])),
decayp AS (SELECT CAST(SFTWD_HRDWD AS VARCHAR) AS SFTWD_HRDWD, CAST(CAST(DECAYCD AS DOUBLE) AS INT) AS DECAYCD,
    CAST(DENSITY_PROP AS DOUBLE) AS DENSITY_PROP, CAST(BARK_LOSS_PROP AS DOUBLE) AS BARK_LOSS_PROP,
    CAST(BRANCH_LOSS_PROP AS DOUBLE) AS BRANCH_LOSS_PROP
  FROM read_csv('{REF}/REF_TREE_DECAY_PROP.csv', all_varchar = true, nullstr = ['NA', ''])),
cullr AS (SELECT SFTWD_HRDWD, DENSITY_PROP AS CULL_DECAY_RATIO FROM decayp WHERE DECAYCD = 3),
deadr AS (SELECT CAST(SFTWD_HRDWD AS VARCHAR) AS SFTWD_HRDWD, CAST(CAST(DECAYCD AS DOUBLE) AS INT) AS DECAYCD,
    CAST(CARBON_RATIO AS DOUBLE) AS CARBON_RATIO
  FROM read_csv('{REF}/REF_TREE_CARBON_RATIO_DEAD.csv', all_varchar = true, nullstr = ['NA', ''])),
prep0 AS (SELECT a.*, r.JENKINS_SPGRPCD, r.SFTWD_HRDWD, r.CARBON_RATIO_LIVE, r.WDSG
  FROM ann a LEFT JOIN refsp r ON a.SPCD = r.SPCD),
prep1 AS (SELECT p.*, c.CULL_DECAY_RATIO FROM prep0 p
  LEFT JOIN cullr c ON p.SFTWD_HRDWD = c.SFTWD_HRDWD),
prep2 AS (SELECT p.*, d.DENSITY_PROP, d.BARK_LOSS_PROP, d.BRANCH_LOSS_PROP FROM prep1 p
  LEFT JOIN decayp d ON p.DECAYCD = d.DECAYCD AND p.SFTWD_HRDWD = d.SFTWD_HRDWD),
prep3 AS (SELECT p.*, d.CARBON_RATIO FROM prep2 p
  LEFT JOIN deadr d ON p.DECAYCD = d.DECAYCD AND p.SFTWD_HRDWD = d.SFTWD_HRDWD),
prov AS (SELECT *,
    CASE WHEN length(trim(ECOSUBCD)) = 0 THEN ''
         WHEN length(trim(ECOSUBCD)) = 4 THEN substr(trim(ECOSUBCD), 1, 3)
         WHEN length(trim(ECOSUBCD)) = 7 THEN substr(trim(ECOSUBCD), 1, length(trim(ECOSUBCD)) - 3)
         ELSE substr(trim(ECOSUBCD), 1, length(trim(ECOSUBCD)) - 2) END AS PROVINCE
  FROM prep3),
prep AS (SELECT * REPLACE (
    CASE WHEN STATUSCD = 1 THEN CULL_DECAY_RATIO WHEN NOT (STATUSCD = 1) THEN CAST(1.0 AS DOUBLE) END AS CULL_DECAY_RATIO,
    CASE WHEN STATUSCD = 1 THEN 0 WHEN NOT (STATUSCD = 1) THEN STANDING_DEAD_CD END AS STANDING_DEAD_CD,
    CASE WHEN STATUSCD = 1 THEN 0 WHEN NOT (STATUSCD = 1) THEN DECAYCD END AS DECAYCD,
    CASE WHEN CULL IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CULL END AS CULL),
    CASE WHEN STATUSCD = 1 THEN CAST(1.0 AS DOUBLE) WHEN NOT (STATUSCD = 1) THEN DENSITY_PROP END AS DECAY_WD,
    CASE WHEN STATUSCD = 1 THEN CAST(1.0 AS DOUBLE) WHEN NOT (STATUSCD = 1) THEN BARK_LOSS_PROP END AS DECAY_BK,
    CASE WHEN STATUSCD = 1 THEN CAST(1.0 AS DOUBLE) WHEN NOT (STATUSCD = 1) THEN BRANCH_LOSS_PROP END AS DECAY_BR,
    CASE WHEN STATUSCD = 1 THEN CARBON_RATIO_LIVE * 100 WHEN NOT (STATUSCD = 1) THEN CARBON_RATIO * 100 END AS C_FRAC,
    CASE WHEN length(PROVINCE) = 0 THEN ''
         ELSE substr(PROVINCE, 1, length(PROVINCE) - 1) || '0' END AS DIVISION
  FROM prov)
"""

SQL_PREP = f"WITH {RAW}, {TIDY}, {interp_sql()}, {adjust_sql()}, {PREP} SELECT * FROM prep"

# ---------------------------------------------------------- estimate
COEF_COLS = ["a", "b", "c", "b2", "a0", "b0", "b1", "a1", "c1"]
COEF_HAVE = {
    "volib": COEF_COLS + ["equation"],
    "total_biomass": COEF_COLS + ["equation"],
    "bark_biomass": ["a", "b", "c", "b2", "a0", "b0", "b1", "equation"],
    "branch_biomass": ["a", "b", "c", "a0", "b0", "b1", "equation"],
    "rcumib": ["alpha", "beta"],
}
LEVELS_SQL = [("SPCD_DIVISION", "VARCHAR"), ("SPCD", "VARCHAR"),
              ("JENKINS_SPGRPCD", "INT")]


def coef_ctes():
    out = []
    for t, have in COEF_HAVE.items():
        casts = ", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in have)
        out.append(
            f"co_{t} AS (SELECT {casts}, CAST(SPCD_DIVISION AS VARCHAR) AS SPCD_DIVISION, "
            f"CAST(SPCD AS VARCHAR) AS SPCD, CAST(CAST(JENKINS_SPGRPCD AS DOUBLE) AS INT) AS JENKINS_SPGRPCD "
            f"FROM read_csv('{REF}/coefs/{t}_coefs.csv', all_varchar = true, nullstr = ['NA', '']))")
        for li, (key, _) in enumerate(LEVELS_SQL):
            cols = ", ".join(
                (f"{c} AS {c}_{li}_{t}" if c in have else f"CAST(NULL AS DOUBLE) AS {c}_{li}_{t}")
                for c in (COEF_COLS + ["equation", "alpha", "beta"]))
            out.append(
                f"l{li}_{t} AS (SELECT {key} AS k_{li}_{t}, {cols}, 1 AS m_{li}_{t} "
                f"FROM co_{t} WHERE {key} IS NOT NULL)")
    return ",\n".join(out)


def eq_expr(t, li):
    def c(x):
        return f"{x}_{li}_{t}"
    eq = c("equation")
    return f"""CASE
  WHEN {eq} = 3 THEN {c('a')} * pow(DBH, {c('b')}) * pow(THT, {c('c')})
  WHEN {eq} = 3.1 THEN {c('a')} * pow(DBH, {c('b')}) * pow(THT, {c('c')}) * WDSG
  WHEN {eq} = 4 THEN (CASE
    WHEN DBH < k THEN {c('a0')} * pow(DBH, {c('b0')}) * pow(THT, {c('c')})
    WHEN NOT (DBH < k) THEN {c('a0')} * pow(k, {c('b0')} - {c('b1')}) * pow(DBH, {c('b1')}) * pow(THT, {c('c')}) END)
  WHEN {eq} = 5 THEN {c('a')} * pow(DBH, {c('a1')} * pow(1 - exp(-{c('b1')} * DBH), {c('c1')})) * pow(THT, {c('c')})
  WHEN {eq} = 50 THEN {c('a')} * pow(DBH, {c('b')}) * pow(THT, {c('c')}) * exp(-({c('b2')} * DBH))
END"""


def target_expr(t, jenkins31=False):
    parts = []
    for li in range(3):
        if jenkins31 and li == 2:
            e = (f"{'a'}_{li}_{t} * pow(DBH, b_{li}_{t}) * pow(THT, c_{li}_{t}) * WDSG")
        else:
            e = eq_expr(t, li)
        parts.append(f"WHEN m_{li}_{t} IS NOT NULL THEN ({e})")
    return "CASE " + " ".join(parts) + " END"


def hra_expr():
    parts = []
    for li in range(3):
        e = f"pow(1 - pow(1 - ACTUALHT / THT, alpha_{li}_rcumib), beta_{li}_rcumib)"
        parts.append(f"WHEN m_{li}_rcumib IS NOT NULL THEN ({e})")
    return "CASE " + " ".join(parts) + " END"


def estimate_sql():
    joins = []
    sel = ["f.*"]
    for t in COEF_HAVE:
        for li, (key, _) in enumerate(LEVELS_SQL):
            joins.append(f"LEFT JOIN l{li}_{t} ON f.{key} = l{li}_{t}.k_{li}_{t}")
            sel.append(f"l{li}_{t}.* EXCLUDE (k_{li}_{t})")
    est0 = (f"est0 AS (SELECT {', '.join(sel)} FROM fiadb0 f\n  " +
            "\n  ".join(joins) + ")")
    return f"""
medcr AS (SELECT CAST(Province AS VARCHAR) AS PROVINCE,
    CASE WHEN CAST(hwd_yn AS VARCHAR) = 'N' THEN 'S' ELSE 'H' END AS SFTWD_HRDWD,
    CAST(CRmn AS DOUBLE) AS CRmn
  FROM read_csv('{REF}/median_crprop.csv', all_varchar = true, nullstr = ['NA', ''])),
fb0 AS (SELECT * FROM prep WHERE JENKINS_SPGRPCD < 10 AND HT IS NOT NULL),
fb1 AS (SELECT f.*, m.CRmn FROM fb0 f
  LEFT JOIN medcr m ON f.SFTWD_HRDWD = m.SFTWD_HRDWD AND f.PROVINCE = m.PROVINCE),
fiadb0 AS (SELECT * EXCLUDE (CRmn, STDORGCD, SPCD, CULL, CR),
    CASE WHEN CRmn IS NULL AND SFTWD_HRDWD = 'S' THEN CAST(46.8 AS DOUBLE)
         WHEN CRmn IS NULL AND SFTWD_HRDWD = 'H' THEN CAST(38.0 AS DOUBLE)
         ELSE CRmn END AS CRmn,
    NOT (HT = ACTUALHT) AS BROKEN_TOP,
    CASE WHEN CR IS NULL AND STATUSCD = 1 THEN CAST(0.0 AS DOUBLE) ELSE CR END AS CR,
    CASE WHEN STDORGCD IS NULL THEN 0 ELSE STDORGCD END AS STDORGCD,
    CASE WHEN SPCD IN (111, 131) AND (CASE WHEN STDORGCD IS NULL THEN 0 ELSE STDORGCD END) = 1
         THEN '1_' || CAST(SPCD AS VARCHAR) ELSE CAST(SPCD AS VARCHAR) END AS SPCD,
    CASE WHEN CULL IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CULL END AS CULL,
    (CASE WHEN SPCD IN (111, 131) AND (CASE WHEN STDORGCD IS NULL THEN 0 ELSE STDORGCD END) = 1
          THEN '1_' || CAST(SPCD AS VARCHAR) ELSE CAST(SPCD AS VARCHAR) END)
      || ' ' || coalesce(DIVISION, 'NA') AS SPCD_DIVISION,
    DIA AS DBH, HT AS THT,
    CASE WHEN CAST(regexp_replace(
           (CASE WHEN SPCD IN (111, 131) AND (CASE WHEN STDORGCD IS NULL THEN 0 ELSE STDORGCD END) = 1
                 THEN '1_' || CAST(SPCD AS VARCHAR) ELSE CAST(SPCD AS VARCHAR) END),
           '1_', '') AS DOUBLE) < 300
         THEN CAST(9.0 AS DOUBLE) ELSE CAST(11.0 AS DOUBLE) END AS k
  FROM fb1),
{coef_ctes()},
{est0},
est1 AS (SELECT *,
    {target_expr('volib')} AS VTOTIB_GROSS,
    {target_expr('total_biomass', jenkins31=True)} AS Total,
    {target_expr('bark_biomass')} AS Bark,
    {target_expr('branch_biomass', jenkins31=True)} AS Branch,
    {hra_expr()} AS HRA_raw
  FROM est0),
est2 AS (SELECT *,
    CASE WHEN ACTUALHT < THT THEN HRA_raw WHEN NOT (ACTUALHT < THT) THEN CAST(1.0 AS DOUBLE) END AS HT_RAT_ADJ,
    CASE WHEN CR IS NULL THEN NULL ELSE greatest(CR, CAST(1.0 AS DOUBLE)) END AS CRx,
    VTOTIB_GROSS * WDSG * 62.4 AS Wood,
    CASE WHEN STANDING_DEAD_CD < 1 THEN 1 - ((1 - CULL_DECAY_RATIO) * CULL) / 100
         WHEN NOT (STANDING_DEAD_CD < 1) THEN CAST(1.0 AS DOUBLE) END AS CULL_REDUCTION
  FROM est1),
est3 AS (SELECT *,
    HT_RAT_ADJ * DECAY_BK * DECAY_WD AS BARK_REDUCTION,
    HT_RAT_ADJ * CULL_REDUCTION * DECAY_WD AS WOOD_REDUCTION,
    CASE WHEN STANDING_DEAD_CD = 1 THEN CRmn / 100
         WHEN NOT (STANDING_DEAD_CD = 1) THEN 1 - (ACTUALHT / THT) * (1 - CRx / 100) END AS CRprop_HT
  FROM est2),
est4 AS (SELECT *,
    CASE WHEN ((ACTUALHT - (1 - CRprop_HT) * THT) / (CRprop_HT * THT)) IS NULL THEN NULL
         ELSE greatest((ACTUALHT - (1 - CRprop_HT) * THT) / (CRprop_HT * THT), CAST(0.0 AS DOUBLE))
    END AS bcp_raw
  FROM est3),
est5 AS (SELECT *,
    CASE WHEN NOT BROKEN_TOP THEN CAST(1.0 AS DOUBLE)
         ELSE (CASE WHEN bcp_raw < 0.01 THEN CAST(0.0 AS DOUBLE)
                    WHEN NOT (bcp_raw < 0.01) THEN bcp_raw END)
    END AS bcp
  FROM est4),
est6 AS (SELECT *,
    bcp * DECAY_BR * DECAY_WD AS BRANCH_REDUCTION
  FROM est5),
est7 AS (SELECT *,
    Wood * WOOD_REDUCTION AS Wood_Reduced,
    Bark * BARK_REDUCTION AS Bark_Reduced,
    Branch * BRANCH_REDUCTION AS Branch_Reduced
  FROM est6),
est8 AS (SELECT *,
    (Wood_Reduced + Bark_Reduced + Branch_Reduced) / (Wood + Bark + Branch) AS AGB_Reduction_Factor
  FROM est7),
est9 AS (SELECT *,
    Total * AGB_Reduction_Factor AS BIOMASS
  FROM est8),
predicted AS (SELECT variant, plot_ID, tree_ID, YEAR,
    BIOMASS AS DRYBIO_AG, BIOMASS * (C_FRAC / 100) AS CARBON_AG
  FROM est9),
final AS (SELECT p.*, pr.DRYBIO_AG, pr.CARBON_AG,
    CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', 1) END AS STATECD,
    CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', 2) END AS UNITCD,
    CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', 3) END AS COUNTYCD,
    CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', 4) END AS PLOT,
    CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', 5) END AS SUBP,
    CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', 6) END AS TREE
  FROM prep p LEFT JOIN predicted pr
    ON p.variant = pr.variant AND p.plot_ID = pr.plot_ID
   AND p.tree_ID IS NOT DISTINCT FROM pr.tree_ID AND p.YEAR = pr.YEAR)
"""


SQL_FINAL = (f"WITH {RAW}, {TIDY}, {interp_sql()}, {adjust_sql()}, {PREP}, "
             f"{estimate_sql()} SELECT * FROM final")
