"""Correctness gate: replays each workload's outputs in DuckDB over the same
generated parquet and compares them as multisets of rows, by column name.
Every function returns a list of mismatch descriptions (empty = correct)."""
import os

import duckdb


class Gate:
    def __init__(self, run_dir):
        self.run_dir = run_dir
        self.con = duckdb.connect()
        self.bad = []

    def table(self, name, path):
        self.con.execute(f"CREATE OR REPLACE VIEW \"{name}\" AS SELECT * FROM "
                         f"read_parquet('{path}/*.parquet')")

    def inputs(self, *names, paths=None):
        """Views over the generated inputs: the published table files in
        `paths`, else the copies under `inputs/`."""
        for n in names:
            self.table(n, (paths or {}).get(n) or
                       os.path.join(self.run_dir, "inputs", n))

    def same(self, key, oracle_sql):
        """The engine's output `check/<key>` equals the oracle's rows."""
        path = os.path.join(self.run_dir, "check", key)
        if not os.path.isdir(path):
            self.bad.append(f"{key}: no output")
            return
        try:
            self.table("__got", path)
            self.con.execute(f"CREATE OR REPLACE TEMP VIEW __want AS {oracle_sql}")
            cols = [r[0] for r in self.con.execute("DESCRIBE __got").fetchall()]
            want = [r[0] for r in self.con.execute("DESCRIBE __want").fetchall()]
            if sorted(cols) != sorted(want):
                self.bad.append(f"{key}: columns {sorted(cols)}, oracle has "
                                f"{sorted(want)}")
                return
            sel = ", ".join(f'"{c}"' for c in cols)
            extra, missing = (self.con.execute(
                f"SELECT COUNT(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL "
                f"SELECT {sel} FROM {b})").fetchone()[0]
                for a, b in (("__got", "__want"), ("__want", "__got")))
            if extra or missing:
                self.bad.append(f"{key}: {extra} rows not in oracle, "
                                f"{missing} oracle rows missing")
        except duckdb.Error as e:
            self.bad.append(f"{key}: {e}")


def wrangle_read(g, p):
    G, M = "gridVeg_point_intercept_ground", "gridVeg_survey_metadata"
    F, A, S, C = ("gridVeg_foliar_cover_all", "gridVeg_additional_species",
                  "vegetation_species_metadata", "gridVeg_ground_cover_metadata")
    g.inputs(G, M, F, A, S, C, "pairs", paths=p["input_paths"])
    y, x = p["min_year"], p["exclude_grid_point"]
    g.same("ground_cover", f"""
        WITH counted AS (
          SELECT survey_ID, grid_point, intercept_ground_code,
                 COUNT(intercept_1) / 2 AS intercepts_pct
          FROM {G} WHERE intercept_ground_code <> 'NA' GROUP BY ALL),
        dims AS (SELECT DISTINCT intercept_ground_code FROM counted),
        grps AS (SELECT DISTINCT survey_ID, grid_point FROM counted),
        done AS (
          SELECT s.survey_ID, s.grid_point, d.intercept_ground_code,
                 COALESCE(c.intercepts_pct, 0.0) AS intercepts_pct
          FROM grps s CROSS JOIN dims d LEFT JOIN counted c
            ON c.survey_ID = s.survey_ID AND c.grid_point = s.grid_point
           AND c.intercept_ground_code = d.intercept_ground_code)
        SELECT x.survey_ID, x.grid_point, m.year, m.date, m.survey_sequence,
               x.intercept_ground_code, k.ground_group, x.intercepts_pct
        FROM done x LEFT JOIN {C} k USING (intercept_ground_code)
        LEFT JOIN {M} m USING (survey_ID)
        WHERE m.year > {y} AND x.grid_point <> {x}""")
    pfg = "plant_native_status, plant_life_cycle, plant_life_form"
    g.same("functional_groups", f"""
        WITH rates AS (
          SELECT survey_ID, grid_point, {pfg},
                 SUM(intercepts_pct) AS detection_rate
          FROM {F} WHERE key_plant_code <> 'NV' GROUP BY ALL),
        dims AS (SELECT DISTINCT {pfg} FROM rates),
        grps AS (SELECT DISTINCT survey_ID, grid_point FROM rates),
        done AS (
          SELECT s.survey_ID, s.grid_point, d.*,
                 COALESCE(r.detection_rate, 0.0) AS detection_rate
          FROM grps s CROSS JOIN dims d LEFT JOIN rates r
            ON r.survey_ID = s.survey_ID AND r.grid_point = s.grid_point
           AND r.plant_native_status = d.plant_native_status
           AND r.plant_life_cycle = d.plant_life_cycle
           AND r.plant_life_form = d.plant_life_form)
        SELECT c.*, m.year, m.date, m.survey_sequence
        FROM done c LEFT JOIN {M} m USING (survey_ID)
        WHERE m.year > {y} AND c.grid_point <> {x}""")
    g.same("species_richness", f"""
        WITH p AS (SELECT survey_ID, grid_point, year, key_plant_species,
                          'point_intercept' AS detection_type
                   FROM {F} WHERE key_plant_species <> 360),
        s AS (SELECT survey_ID, grid_point, year, key_plant_species,
                     'supplemental_obs' AS detection_type
              FROM {A} WHERE key_plant_species IS NOT NULL),
        dup AS (SELECT survey_ID, key_plant_species
                FROM (SELECT * FROM p UNION ALL SELECT * FROM s)
                GROUP BY ALL HAVING COUNT(*) > 1),
        r AS (SELECT * FROM p UNION ALL
              SELECT * FROM s WHERE NOT EXISTS (
                SELECT 1 FROM dup d WHERE d.survey_ID = s.survey_ID
                  AND d.key_plant_species = s.key_plant_species))
        SELECT * FROM r WHERE year > {y} AND key_plant_species IS NOT NULL""")
    cols = ["survey_ID", "grid_point", "date", "year", "key_plant_species"]
    g.same("null_profile", "SELECT " + ", ".join(
        f"COUNT(*) FILTER (WHERE {c} IS NULL) AS null_{c}" for c in cols)
        + f" FROM {A}")
    g.same("date_diagnostics", f"""
        WITH j AS (
          SELECT * FROM (SELECT DISTINCT survey_ID, date AS species_date FROM {A})
          LEFT JOIN (SELECT DISTINCT survey_ID, date AS metadata_date FROM {M})
            USING (survey_ID)
          LEFT JOIN (SELECT DISTINCT survey_ID, date AS intercept_date FROM {G})
            USING (survey_ID)
          LEFT JOIN (SELECT DISTINCT survey_ID, date AS ground_date FROM {G})
            USING (survey_ID)),
        s AS (SELECT *, CASE WHEN species_date > DATE '2026-01-01' THEN 'Future Date'
                             WHEN species_date <> metadata_date THEN 'Date Mismatch'
                             ELSE 'Match' END AS status FROM j)
        SELECT *, COUNT(*) OVER (PARTITION BY status) AS category_count FROM s""")
    codes = ", ".join(f"'{c}'" for c in p["ground_codes"])
    rules = [
        ("not_null(survey_ID)", "survey_ID IS NULL"),
        ("in_range(year,2010.0,2030.0)",
         "year IS NOT NULL AND (year < 2010 OR year > 2030)"),
        ("one_of(intercept_ground_code)",
         f"intercept_ground_code IS NOT NULL AND intercept_ground_code NOT IN ({codes})"),
        ("matches(transect_point)", "transect_point IS NOT NULL AND NOT "
         "regexp_full_match(transect_point, '[NS][0-9]{1,2}')"),
    ]
    parts = [f"SELECT '{n}' AS rule, COUNT(*) FILTER (WHERE {w}) AS violations "
             f"FROM {G}" for n, w in rules]
    parts.append("SELECT 'unique(survey_ID+transect_point)', COALESCE(SUM(c - 1), 0) "
                 f"FROM (SELECT COUNT(*) AS c FROM {G} GROUP BY survey_ID, "
                 "transect_point) WHERE c > 1")
    parts.append(f"SELECT 'ref(survey_ID)', COUNT(*) FROM {G} WHERE survey_ID "
                 f"IS NOT NULL AND survey_ID NOT IN (SELECT survey_ID FROM {M})")
    g.same("check_constraints", f"""
        SELECT rule, CAST(violations AS BIGINT) AS violations,
               (SELECT COUNT(*) FROM {G}) AS n_rows, violations = 0 AS pass
        FROM ({' UNION ALL '.join(parts)})""")
    for i, q in enumerate(p["sql"]):
        g.same(f"sql_{i}", q)
    for i, (lo, hi) in enumerate(p["zone_ranges"]):
        g.same(f"zone_{i}", f"SELECT intercept_ground_code, COUNT(*) AS n FROM {G} "
               f"WHERE grid_point BETWEEN {lo} AND {hi} GROUP BY ALL")
    for i, ids in enumerate(p["bloom_ids"]):
        vs = ", ".join(f"'{v}'" for v in ids)
        g.same(f"bloom_{i}", f"SELECT survey_ID, intercept_ground_code, COUNT(*) AS n "
               f"FROM {G} WHERE survey_ID IN ({vs}) GROUP BY ALL")
    graph(g, p)


def graph(g, p):
    # the q173 oracle reads TPC-H-shaped orders/lineitem; these views make
    # its `pairs` CTE yield exactly the generated edge list
    g.con.execute("""
        CREATE VIEW o AS SELECT row_number() OVER (ORDER BY c, p) AS k, c, p FROM pairs;
        CREATE VIEW orders AS SELECT k AS o_orderkey, c AS o_custkey FROM o;
        CREATE VIEW lineitem AS SELECT k AS l_orderkey, p - 1000000 AS l_suppkey FROM o;
    """)
    g.same("label_propagation", p["label_propagation_oracle"])
    # connected components: min-label propagation to a fixed point
    c = g.con
    c.execute("""
        CREATE TABLE e AS SELECT c AS a, p AS b FROM pairs UNION SELECT p, c FROM pairs;
        CREATE TABLE lab AS SELECT DISTINCT a AS id, a AS label FROM e;""")
    while True:
        c.execute("""
            CREATE OR REPLACE TABLE nxt AS
            SELECT l.id, LEAST(l.label, MIN(n.label)) AS label
            FROM lab l JOIN e ON e.a = l.id JOIN lab n ON n.id = e.b
            GROUP BY l.id, l.label""")
        changed = c.execute("SELECT COUNT(*) FROM nxt JOIN lab USING (id) "
                            "WHERE nxt.label <> lab.label").fetchone()[0]
        c.execute("CREATE OR REPLACE TABLE lab AS SELECT * FROM nxt")
        if changed == 0:
            break
    g.same("connected_components", "SELECT id, label FROM lab")


def mutate_maintain(g, p):
    g.inputs("survey", "batch", "updates", "obs")
    cols = "survey_ID, grid_point, year, date, survey_sequence"
    g.con.execute(f"""
        CREATE OR REPLACE TEMP VIEW final_survey AS
        WITH s1 AS (SELECT * FROM survey UNION ALL
                    SELECT * FROM batch WHERE survey_ID NOT IN
                      (SELECT survey_ID FROM survey)),
        s2 AS (SELECT * FROM s1 WHERE survey_ID NOT IN
                 (SELECT survey_ID FROM updates)
               UNION ALL SELECT * FROM updates),
        s3 AS (SELECT * FROM s2 WHERE NOT COALESCE(grid_point % {p['delete_mod']} = 0, false))
        SELECT {cols}, CASE WHEN year = {p['update_year']} THEN 'reassigned'
                            ELSE surveyor END AS surveyor FROM s3""")
    g.same("survey", "SELECT * FROM final_survey")
    fix = "o.year > 2030 AND m.date IS NOT NULL"
    g.same("species_obs", f"""
        SELECT o.survey_ID, o.grid_point,
               CASE WHEN {fix} THEN m.date ELSE o.date END AS date,
               CASE WHEN {fix} THEN CAST(year(m.date) AS INTEGER) ELSE o.year END AS year,
               o.key_plant_species
        FROM obs o LEFT JOIN final_survey m USING (survey_ID)""")


GATES = {"wrangle_read": wrangle_read, "mutate_maintain": mutate_maintain}


def run(workload, run_dir, params):
    g = Gate(run_dir)
    try:
        GATES[workload](g, params)
    except (duckdb.Error, KeyError) as e:
        g.bad.append(f"gate: {e}")
    return g.bad
