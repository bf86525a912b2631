"""Seeded input generators for the benchmark.

Two families:

* ``corpus(sf, out)`` writes the TPC-H-shaped parquet corpus the curation
  queries read (region, nation, customer, supplier, part, orders,
  lineitem, documents). It copies the shape of the synthetic corpus the
  repository's queries and DuckDB oracles were written against, which
  lives outside the repository: column names, parquet types, row counts,
  value ranges and distinct counts, the 30-word document vocabulary, 10-99
  tokens per document and 5 % ``<copy> dup`` near duplicates.
  ``corpus_check.py`` compares the two, column by column.
* ``etl_inputs(seed, scale, out)`` writes the raw Spotify tracks CSV and
  Grammy awards CSV that ``graft.jobs.EtlJobs etl`` reads, following
  ``Tables.spotifySchema`` / ``Tables.grammySchema``. Scale 1.0 is the
  size the public Kaggle datasets give (114 000 track rows over 89 741
  distinct track ids, 4 810 Grammy rows); the files themselves are not in
  the repository. The planted shares in ``ETL_SHARES`` are chosen to cover
  every case the job handles, not measured on real data.

Every value is drawn from ``numpy.random.default_rng(seed)``, so the same
seed and size always give byte-identical files.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Sizes the public Kaggle datasets give (spotify-tracks-dataset: 114 000
# rows over 89 741 distinct track_ids; grammy awards: 4 810 rows).
REF_TRACK_ROWS = 114_000
REF_GRAMMY_ROWS = 4_810
DUP_FACTOR = REF_TRACK_ROWS / 89_741


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _cents(rng, lo, hi, n):
    """Uniform cent-valued doubles in [lo, hi] (exact two-decimal values)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(rng, start, end, n):
    """Uniform whole-day timestamps in [start, end]."""
    s, e = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((e - s).astype(int)) + 1, n)
    return (s + days).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def corpus(sf, out, seed=42):
    """TPC-H-shaped corpus at scale factor ``sf`` (sf 0.1 = 600 000
    lineitem rows)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_doc = int(6_000_000 * sf), max(500, int(50_000 * sf))
    i32 = pa.int32()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_line)})

    vocab = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5 % planted near duplicates: a copy of another document plus one
    # token, so the near-dedup and set-similarity queries find real pairs.
    for i in sorted(rng.choice(n_doc, n_doc // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return {"lineitem": n_line, "orders": n_ord, "part": n_part,
            "customer": n_cust, "supplier": n_supp, "documents": n_doc}


def genre_keys(genre_map_csv):
    with open(genre_map_csv, newline="", encoding="utf-8") as f:
        return [r["track_genre"] for r in csv.DictReader(f)]


# Planted shares of the ETL inputs, chosen (not measured) so that every
# case the job handles occurs; recorded in every run's method record.
ETL_SHARES = {
    "spotify.genre_unmapped": 0.07,   # track_genre outside the GenreMap
    "spotify.genre_null": 0.03,
    "spotify.album_null": 0.005,      # fails the Fact_Spotify album FK gate
    "spotify.tied_mode_clusters": 0.5,  # of duplicate clusters
    "grammy.match_track": 0.35,       # (nominee, artist) names a track
    "grammy.null_key": 0.10,          # nominee or artist is null
    "grammy.category_null": 0.01,     # fails the Fact_Grammy category gate
    "grammy.event_dates_null": 0.10,  # published_at and updated_at null
}


def etl_inputs(seed, scale, out, genre_map_csv):
    """Raw Spotify + Grammy CSVs; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    sh = ETL_SHARES
    n_rows = int(REF_TRACK_ROWS * scale)
    n_tracks = int(n_rows / DUP_FACTOR)

    # Per-track attributes (the order-stable carries of the clean step).
    trk = np.arange(n_tracks)
    track_id = np.char.add("trk", np.char.zfill(
        rng.permutation(n_tracks * 4)[:n_tracks].astype(str), 9))
    artist_pool = np.char.add("artist ", np.arange(n_tracks // 3).astype(str))
    artists = artist_pool[rng.integers(0, len(artist_pool), n_tracks)]
    second = artist_pool[rng.integers(0, len(artist_pool), n_tracks)]
    artists = np.where(rng.random(n_tracks) < 0.10,
                       np.char.add(np.char.add(artists, ";"), second),
                       artists)
    # ", " inside a value forces CSV quoting.
    artists = np.where(rng.random(n_tracks) < 0.02,
                       np.char.add(artists, ", the band"), artists)
    artists = artists.astype(object)
    album = np.char.add("album ", rng.integers(0, max(1, n_tracks // 2),
                                               n_tracks).astype(str))
    album = album.astype(object)
    album[rng.random(n_tracks) < sh["spotify.album_null"]] = None
    track_name = np.char.add("song ", rng.integers(
        0, int(n_tracks * 0.9), n_tracks).astype(str)).astype(object)
    # A few tracks with both merge keys null: they meet the null-keyed
    # Grammy rows through the fillna("") key normalisation.
    both_null = rng.choice(n_tracks, 5, replace=False)
    track_name[both_null] = None
    artists[both_null] = None
    feats = {
        "duration_ms": rng.integers(30_000, 600_000, n_tracks),
        "explicit": rng.random(n_tracks) < 0.08,
        "danceability": rng.integers(0, 1001, n_tracks) / 1000.0,
        "energy": rng.integers(0, 1001, n_tracks) / 1000.0,
        "key": rng.integers(0, 12, n_tracks).astype(np.int32),
        "loudness": -rng.integers(0, 60_001, n_tracks) / 1000.0,
        "mode": rng.integers(0, 2, n_tracks).astype(np.int32),
        "speechiness": rng.integers(0, 1001, n_tracks) / 1000.0,
        "acousticness": rng.integers(0, 1001, n_tracks) / 1000.0,
        "instrumentalness": rng.integers(0, 1001, n_tracks) / 1000.0,
        "liveness": rng.integers(0, 1001, n_tracks) / 1000.0,
        "valence": rng.integers(0, 1001, n_tracks) / 1000.0,
        "tempo": rng.integers(50_000, 220_001, n_tracks) / 1000.0,
        "time_signature": rng.integers(0, 6, n_tracks).astype(np.int32),
    }

    # Rows: every track once, then duplicate-cluster members, shuffled.
    row_trk = np.concatenate([trk, rng.integers(0, n_tracks,
                                                n_rows - n_tracks)])
    row_trk = row_trk[rng.permutation(n_rows)]
    pop = rng.integers(0, 101, n_rows)
    # Tied popularity modes: in half of the duplicate clusters every member
    # alternates between two values, so the mode is a tie that must break
    # toward the smaller value.
    sizes = np.bincount(row_trk, minlength=n_tracks)
    tied = (sizes >= 2) & (rng.random(n_tracks) < sh["spotify.tied_mode_clusters"])
    base = rng.integers(0, 94, n_tracks)
    order = np.argsort(row_trk, kind="stable")
    rank = np.empty(n_rows, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    rank[order] = np.arange(n_rows) - np.repeat(starts, sizes)
    tie_rows = tied[row_trk]
    pop[tie_rows] = base[row_trk[tie_rows]] + 7 * (rank[tie_rows] % 2)

    keys = genre_keys(genre_map_csv)
    u = rng.random(n_rows)
    genre = _pick(rng, keys, n_rows)
    unm = u < sh["spotify.genre_unmapped"]
    genre[unm] = np.char.add("unmapped-", rng.integers(0, 20, unm.sum())
                             .astype(str))
    genre[(u >= sh["spotify.genre_unmapped"]) &
          (u < sh["spotify.genre_unmapped"] + sh["spotify.genre_null"])] = None

    spotify = {"Unnamed: 0": np.arange(n_rows, dtype=np.int64),
               "track_id": track_id[row_trk],
               "artists": artists[row_trk],
               "album_name": album[row_trk],
               "track_name": track_name[row_trk],
               "popularity": pop.astype(np.int32)}
    for k in ["duration_ms", "explicit", "danceability", "energy", "key",
              "loudness", "mode", "speechiness", "acousticness",
              "instrumentalness", "liveness", "valence", "tempo",
              "time_signature"]:
        spotify[k] = feats[k][row_trk]
    spotify["track_genre"] = genre
    opts = pacsv.WriteOptions(quoting_style="needed")
    pacsv.write_csv(pa.table(spotify), os.path.join(out, "spotify.csv"),
                    opts)

    n_g = int(REF_GRAMMY_ROWS * scale)
    year = rng.integers(1958, 2020, n_g)
    u = rng.random(n_g)
    nominee = np.char.add("nominee ", rng.integers(0, n_g, n_g).astype(str)
                          ).astype(object)
    artist = np.char.add("grammy artist ", rng.integers(0, n_g // 2, n_g)
                         .astype(str)).astype(object)
    m = u < sh["grammy.match_track"]
    pick = rng.integers(0, n_tracks, m.sum())
    # Matching rows differ from the track only in case and padding, which
    # the merge's key normalisation (trim + lower) removes.
    nominee[m] = [None if t is None else f" {t.upper()} " if i % 3 == 0
                  else t for i, t in enumerate(track_name[pick])]
    artist[m] = [None if a is None else a.title() if i % 2 == 0 else a
                 for i, a in enumerate(artists[pick])]
    nk = (u >= sh["grammy.match_track"]) & \
         (u < sh["grammy.match_track"] + sh["grammy.null_key"])
    side = rng.integers(0, 3, n_g)
    nominee[nk & (side != 1)] = None
    artist[nk & (side != 0)] = None
    pub = np.char.add(_ts(rng, "1999-01-01", "2020-12-31", n_g)
                      .astype("datetime64[s]").astype(str), "-07:00")
    upd = np.char.add(_ts(rng, "2021-01-01", "2021-12-31", n_g)
                      .astype("datetime64[s]").astype(str), "-07:00")
    pub, upd = pub.astype(object), upd.astype(object)
    nd = rng.random(n_g) < sh["grammy.event_dates_null"]
    pub[nd] = None
    upd[nd] = None
    category = np.char.add("Category ", rng.integers(0, 600, n_g)
                           .astype(str)).astype(object)
    category[rng.random(n_g) < sh["grammy.category_null"]] = None
    workers = np.char.add("producer ", rng.integers(0, n_g, n_g).astype(str))
    workers = np.char.add(workers, ", engineer").astype(object)
    # Quoted quotes and line breaks: the Grammy reader parses multiLine CSV.
    ml = rng.random(n_g) < 0.02
    workers[ml] = [f'{w} "mix"\nmaster' for w in workers[ml]]
    img = np.char.add("https://img.example/", np.arange(n_g).astype(str)
                      ).astype(object)
    img[rng.random(n_g) < 0.2] = None
    grammy = {"year": year.astype(np.int32),
              "title": [f"Grammy Awards {y}" for y in year],
              "published_at": pub, "updated_at": upd,
              "category": category, "nominee": nominee, "artist": artist,
              "workers": workers, "img": img,
              "winner": rng.random(n_g) < 0.85}
    pacsv.write_csv(pa.table(grammy), os.path.join(out, "grammy.csv"), opts)
    return {"spotify_rows": n_rows, "spotify_tracks": n_tracks,
            "grammy_rows": n_g}
