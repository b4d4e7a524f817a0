"""Checks the pipelines' tab-sink outputs against DuckDB over the same files.

The expected rows follow MovieAnalysis's semantics: inner join of ratings to
movies, MovieRank's count per (movieId, title) ordered by (cnt, movieId),
MovieRating's strict `count > 10` and `avg > 4.0` filters on the raw average,
the average rounded to 4 places and ordered by (avg_rating, movieId).

Rows are compared the way tools/check.py compares a query's rows: columns
sorted by name, floats rendered with 9 significant digits, row order kept;
here the rendered rows are hashed. When a MovieRating hash differs, the rows
are compared once more allowing only what a half-way rounding tie can change
(the 4th decimal of a mean that lies exactly between two 4-place values),
since the two engines may round such a tie from different binary values.
"""
import csv
import glob
import hashlib
import os

import duckdb

RANK_COLS = ("movieId", "title", "cnt")
RATING_COLS = ("movieId", "title", "avg_rating", "num_ratings")
TYPES = {"movieId": int, "title": str, "cnt": int, "avg_rating": float,
         "num_ratings": int}

MOVIES = ("read_csv('{}', header=true, quote='\"', escape='\"', "
          "columns={{'movieId': 'INTEGER', 'title': 'VARCHAR', 'genres': 'VARCHAR'}})")
RATINGS = ("read_csv({}, header=true, filename=true, columns={{'userId': 'INTEGER', "
           "'movieId': 'INTEGER', 'rating': 'DOUBLE', 'timestamp': 'BIGINT'}})")


def cell(x):
    return f"{x:.9g}" if isinstance(x, float) else str(x)


def digest(rows, cols):
    """Hash of rows (tuples in `cols` order), columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(cell(r[i]) for i in order).encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over one workload's movies.csv and ratings files. `upto` limits
    the ratings to the first files of the list (incremental batches)."""

    def __init__(self, movies, ratings_files):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.files = list(ratings_files)
        self.con.execute(f"CREATE TABLE m AS SELECT movieId, title FROM {MOVIES.format(movies)}")
        listing = "[" + ",".join(f"'{f}'" for f in self.files) + "]"
        self.con.execute(
            f"CREATE TABLE r AS SELECT movieId, rating, filename AS f FROM {RATINGS.format(listing)}")
        self.con.execute("CREATE TABLE files AS SELECT * FROM (VALUES " +
                         ",".join(f"('{f}', {i})" for i, f in enumerate(self.files)) +
                         ") t(f, i)")
        self.con.execute("CREATE TABLE rf AS SELECT r.movieId, r.rating, files.i "
                         "FROM r JOIN files USING (f)")

    def _joined(self, upto):
        return (f"(SELECT rf.movieId, m.title, rf.rating FROM rf JOIN m "
                f"ON rf.movieId = m.movieId WHERE rf.i < {upto})")

    def rank_rows(self, upto):
        return self.con.execute(
            f"SELECT movieId, title, count(*)::BIGINT AS cnt FROM {self._joined(upto)} "
            "GROUP BY movieId, title ORDER BY cnt, movieId").fetchall()

    def rating_rows(self, upto, rounded=True):
        avg = "round(avg(rating), 4)" if rounded else "avg(rating)"
        return self.con.execute(
            f"SELECT movieId, title, {avg} AS avg_rating, count(*)::BIGINT AS num_ratings "
            f"FROM {self._joined(upto)} GROUP BY movieId, title "
            "HAVING count(*) > 10 AND avg(rating) > 4.0 "
            "ORDER BY round(avg(rating), 4), movieId").fetchall()

    def expected(self, upto):
        """Expected (digest, row count) of both outputs over the first `upto`
        ratings files."""
        rank, rating = self.rank_rows(upto), self.rating_rows(upto)
        return {"rank": (digest(rank, RANK_COLS), len(rank)),
                "rating": (digest(rating, RATING_COLS), len(rating))}


def part_files(out_dir):
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return None
    return sorted(glob.glob(os.path.join(out_dir, "part-*")))


def raw_digest(out_dir):
    """Hash of the output's bytes, part files in partition order."""
    files = part_files(out_dir)
    if files is None:
        return None
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def read_rows(out_dir, cols):
    """Rows of a tab sink output, typed; the CSV writer quotes a title that
    holds a quote and escapes the quote with a backslash."""
    rows = []
    for f in part_files(out_dir) or []:
        with open(f, newline="", encoding="utf-8") as fh:
            for rec in csv.reader(fh, delimiter="\t", quotechar='"', escapechar="\\",
                                  doublequote=False):
                rows.append(tuple(TYPES[c](v) for c, v in zip(cols, rec)))
    return rows


def rating_tie_ok(got, raw):
    """True when `got` differs from the expected rows only by how a half-way
    tie of a mean was rounded to 4 places: same rows (movieId, title,
    num_ratings), every avg_rating a 4-place value within half a unit of the
    raw mean, and rows ordered by (avg_rating, movieId) as written."""
    want = {r[0]: r for r in raw}
    if len(got) != len(raw):
        return False
    for movie_id, title, avg_rating, num in got:
        w = want.get(movie_id)
        if w is None or (w[1], w[3]) != (title, num):
            return False
        if round(avg_rating, 4) != avg_rating or abs(avg_rating - w[2]) > 0.5e-4 + 1e-12:
            return False
    keys = [(r[2], r[0]) for r in got]
    return keys == sorted(keys)


def check(oracle, expected, out_dir, name, upto):
    """True when the output under `out_dir` holds the expected rows."""
    if part_files(out_dir) is None:
        return False
    cols = RANK_COLS if name == "rank" else RATING_COLS
    try:
        got = read_rows(out_dir, cols)
    except (ValueError, csv.Error):
        return False
    if (digest(got, cols), len(got)) == expected[name]:
        return True
    return name == "rating" and rating_tie_ok(got, oracle.rating_rows(upto, rounded=False))
