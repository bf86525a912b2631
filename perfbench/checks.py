"""Output checks: DuckDB oracles for the benchmark's workloads.

* Query workloads: each query's reference output (written as parquet by
  the untimed reference pass) must equal DuckDB running the program's own
  oracle SQL (``graft.SparkEntry.oracleSql``) over the same corpus, under
  the typed, bit-exact rules of ``scripts/check.py``: same column types
  (no DECIMAL/HUGEINT on either side), same row multiset, no float
  tolerance. Timed ops are then checked against the reference by
  fingerprint in the JVM.
* ETL: every table of every warehouse an op wrote must have the row count
  DuckDB derives from the same input CSVs (the clean → merge → warehouse
  oracle of ``PipelineQueries``, adapted to the raw CSV columns), unique
  surrogate ids, and complete foreign keys.
"""
import glob
import hashlib
import math
import os
import pickle

import duckdb

BANNED_TYPES = ("DECIMAL", "HUGEINT")
CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "documents"]


def connect(threads=4):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _eq(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) and isinstance(b, (int, float)):
        return a == float(b)
    if isinstance(b, float) and isinstance(a, int):
        return float(a) == b
    return a == b


def _typed_rows(con, sql):
    """({column: type}, rows with columns in name order, sorted)."""
    types = {r[0]: r[1] for r in
             con.execute(f"DESCRIBE SELECT * FROM {sql}").fetchall()}
    cols = ", ".join(f'"{c}"' for c in sorted(types))
    rows = con.execute(f"SELECT {cols} FROM {sql}").fetchall()
    return types, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def oracle_result(corpus_dir, sql, cache_dir):
    """DuckDB result of one oracle query, cached by corpus and SQL text."""
    key = hashlib.sha256((corpus_dir + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = connect()
    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{corpus_dir}/{t}.parquet'")
    res = _typed_rows(con, f"({sql})")
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def compare_ref(ref_dir, want):
    """'' when the parquet output at ref_dir equals the oracle result
    ``want``; otherwise the first difference."""
    if not glob.glob(f"{ref_dir}/*.parquet"):
        return "no reference output"
    con = connect(2)
    got_t, got = _typed_rows(con, f"read_parquet('{ref_dir}/*.parquet')")
    want_t, rows = want
    if sorted(got_t) != sorted(want_t):
        return f"columns {sorted(got_t)} vs oracle {sorted(want_t)}"
    bad = [f"{c}: {got_t[c]} vs oracle {want_t[c]}"
           for c in sorted(got_t) if got_t[c] != want_t[c]]
    bad += [f"{c}: {t}" for side in (got_t, want_t)
            for c, t in side.items() if any(b in t for b in BANNED_TYPES)]
    if bad:
        return "type " + "; ".join(bad)
    if len(got) != len(rows):
        return f"{len(got)} rows vs oracle {len(rows)}"
    for i, (g, w) in enumerate(zip(got, rows)):
        if not all(_eq(a, b) for a, b in zip(g, w)):
            return f"row {i}: got {g} want {w}"
    return ""


# ---- ETL -------------------------------------------------------------

SPOTIFY_COLS = {
    "Unnamed: 0": "BIGINT", "track_id": "VARCHAR", "artists": "VARCHAR",
    "album_name": "VARCHAR", "track_name": "VARCHAR", "popularity": "INTEGER",
    "duration_ms": "BIGINT", "explicit": "BOOLEAN", "danceability": "DOUBLE",
    "energy": "DOUBLE", "key": "INTEGER", "loudness": "DOUBLE",
    "mode": "INTEGER", "speechiness": "DOUBLE", "acousticness": "DOUBLE",
    "instrumentalness": "DOUBLE", "liveness": "DOUBLE", "valence": "DOUBLE",
    "tempo": "DOUBLE", "time_signature": "INTEGER", "track_genre": "VARCHAR"}
GRAMMY_COLS = {
    "year": "INTEGER", "title": "VARCHAR", "published_at": "VARCHAR",
    "updated_at": "VARCHAR", "category": "VARCHAR", "nominee": "VARCHAR",
    "artist": "VARCHAR", "workers": "VARCHAR", "img": "VARCHAR",
    "winner": "BOOLEAN"}

# PipelineQueries' clean / merge / warehouse-count oracle, over raw CSVs.
ETL_COUNTS_SQL = """
WITH sp AS (SELECT "Unnamed: 0" AS row_idx, * EXCLUDE ("Unnamed: 0")
            FROM spotify),
mp AS (SELECT sp.*, coalesce(m.genero, 'Otro') AS genero,
         coalesce(m.subgenero, sp.track_genre) AS subgenero
       FROM sp LEFT JOIN genre_map m ON sp.track_genre = m.track_genre),
md AS (SELECT track_id, popularity,
         row_number() OVER (PARTITION BY track_id
           ORDER BY count(*) DESC, popularity) AS rn
       FROM mp GROUP BY track_id, popularity),
fr AS (SELECT *, row_number() OVER (PARTITION BY track_id
         ORDER BY row_idx) AS rn FROM mp),
clean AS (SELECT f.track_name, f.artists, f.album_name, f.genero,
            f.subgenero
          FROM fr f JOIN md ON f.track_id = md.track_id
            AND f.rn = 1 AND md.rn = 1),
ln AS (SELECT lower(trim(coalesce(track_name, ''))) AS track_name,
         lower(trim(coalesce(artists, ''))) AS artists,
         album_name, genero, subgenero FROM clean),
rn AS (SELECT year, title, published_at, updated_at, category,
         lower(trim(coalesce(nominee, ''))) AS track_name,
         lower(trim(coalesce(artist, ''))) AS artists FROM grammy),
mg AS (SELECT coalesce(l.track_name, r.track_name) AS track_name,
         coalesce(l.artists, r.artists) AS artists,
         l.album_name, l.genero, l.subgenero,
         r.year, r.title, r.published_at, r.updated_at, r.category,
         CASE WHEN l.track_name IS NOT NULL AND r.track_name IS NOT NULL
           THEN 'both' WHEN l.track_name IS NOT NULL THEN 'left_only'
           ELSE 'right_only' END AS _merge
       FROM ln l FULL JOIN rn r
         ON l.track_name = r.track_name AND l.artists = r.artists)
SELECT 'Dim_Album' AS table_name, count(DISTINCT album_name) AS n FROM mg
UNION ALL SELECT 'Dim_Artist', count(DISTINCT artists) FROM mg
UNION ALL SELECT 'Dim_Category', count(DISTINCT category) FROM mg
UNION ALL SELECT 'Dim_Event', (SELECT count(*) FROM
  (SELECT DISTINCT year, title, published_at, updated_at FROM mg
   WHERE year IS NOT NULL OR title IS NOT NULL
      OR published_at IS NOT NULL OR updated_at IS NOT NULL))
UNION ALL SELECT 'Dim_Genre', (SELECT count(*) FROM
  (SELECT DISTINCT genero, subgenero FROM mg
   WHERE genero IS NOT NULL OR subgenero IS NOT NULL))
UNION ALL SELECT 'Dim_Song', count(DISTINCT track_name) FROM mg
UNION ALL SELECT 'Fact_Grammy_Awards', count(*) FILTER (
  WHERE _merge IN ('both', 'right_only') AND category IS NOT NULL) FROM mg
UNION ALL SELECT 'Fact_Spotify_Tracks', count(*) FILTER (
  WHERE _merge IN ('both', 'left_only') AND album_name IS NOT NULL) FROM mg
"""

# fact table -> [(foreign key, dimension)]; a dimension's id column has
# the foreign key's name.
FKS = {
    "Fact_Spotify_Tracks": [("song_id", "Dim_Song"),
                            ("artist_id", "Dim_Artist"),
                            ("album_id", "Dim_Album"),
                            ("genre_id", "Dim_Genre")],
    "Fact_Grammy_Awards": [("song_id", "Dim_Song"),
                           ("artist_id", "Dim_Artist"),
                           ("category_id", "Dim_Category"),
                           ("event_id", "Dim_Event")],
}


def _csv(path, cols, multiline):
    spec = "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"
    return (f"read_csv('{path}', header=true, columns={spec}, quote='\"', "
            f"escape='\"', nullstr=''{', parallel=false' if multiline else ''})")


def etl_expected(spotify_csv, grammy_csv, genre_map_csv):
    """{table: expected row count} from DuckDB over the input CSVs."""
    con = connect()
    con.execute(f"CREATE VIEW spotify AS SELECT * FROM "
                f"{_csv(spotify_csv, SPOTIFY_COLS, False)}")
    con.execute(f"CREATE VIEW grammy AS SELECT * FROM "
                f"{_csv(grammy_csv, GRAMMY_COLS, True)}")
    con.execute(f"CREATE VIEW genre_map AS SELECT * FROM read_csv("
                f"'{genre_map_csv}', header=true, all_varchar=true)")
    return dict(con.execute(ETL_COUNTS_SQL).fetchall())


def check_warehouse(out_dir, expected):
    """'' when the warehouse at out_dir has the expected row counts, unique
    surrogate ids and complete foreign keys; otherwise the problems."""
    con = connect(2)
    problems = []
    for t in sorted(expected):
        files = glob.glob(f"{out_dir}/{t}/*.parquet")
        if not files:
            problems.append(f"{t}: missing")
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{out_dir}/{t}/*.parquet')")
        n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if n != expected[t]:
            problems.append(f"{t}: {n} rows, oracle {expected[t]}")
    if problems:
        return "; ".join(problems)
    for fact, fks in FKS.items():
        for fk, dim in fks:
            dup = con.execute(f"SELECT count(*) - count(DISTINCT {fk}) "
                              f"FROM {dim}").fetchone()[0]
            orphan = con.execute(
                f"SELECT count(*) FROM {fact} f LEFT JOIN {dim} d "
                f"ON f.{fk} = d.{fk} WHERE d.{fk} IS NULL").fetchone()[0]
            if dup or orphan:
                problems.append(f"{fact}.{fk}: {orphan} orphan rows, "
                                f"{dup} duplicate ids in {dim}")
    return "; ".join(problems)
