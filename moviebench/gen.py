#!/usr/bin/env python3
"""Seeded MovieLens-shaped input generator (Python stdlib only).

Writes `movies.csv` (movieId,title,genres) and either one `ratings.csv`
(userId,movieId,rating,timestamp) or a sequence of `batches/batch-NNNNN.csv`
files with the same header, under the directory given by --out. With
--warmup-rows N it also writes `warmup.csv`, N more ratings drawn the same
way, for warming the engine up on a small input.

Properties the benchmark relies on:
  - the same arguments give byte-identical files;
  - popularity is Zipf (s = 1 over a random permutation of the ids) or
    uniform;
  - titles follow RFC 4180: some carry commas and some doubled quotes, as in
    fixtures/movies.csv; none is empty or padded with spaces;
  - ratings run from 0.5 to 5.0 in 0.5 steps around a per-movie mean spread
    over 1.0..4.7, so MovieRating's `> 10 ratings` and `avg > 4.0` filters
    keep some movies but not all;
  - a few ratings name movieIds absent from movies.csv (the inner join drops
    them);
  - no malformed rows.

Usage:
  python3 moviebench/gen.py --seed 1 --out DIR --movies 60000 \
      --ratings 2000000 --shape zipf [--batches 0] [--warmup-rows 0]
"""
import argparse
import array
import json
import os
import random

GENRES = ["Action", "Adventure", "Animation", "Children", "Comedy", "Crime",
          "Documentary", "Drama", "Fantasy", "Horror", "Musical", "Mystery",
          "Romance", "Sci-Fi", "Thriller", "War", "Western"]
# One rating in MISSING_EVERY names a movieId that movies.csv lacks.
MISSING_EVERY = 20011
MISSING_IDS = 50
# Popularity table resolution: a movie is drawn by indexing a table of
# 2^TABLE_BITS slots with the top bits of a uniform 32-bit draw.
TABLE_BITS = 22
# Offsets (in 0.5 steps) of the 8 equally likely ratings around a movie's mean.
BAG_OFFSETS = (-3, -2, -1, 0, 0, 1, 2, 3)


def u32(rnd, n):
    a = array.array("I")
    a.frombytes(rnd.randbytes(4 * n))
    return a


def quote(field):
    if "," in field or '"' in field:
        return '"' + field.replace('"', '""') + '"'
    return field


def title_for(mid, bits):
    year = 1920 + (bits >> 8) % 100
    kind = bits % 20
    if kind == 0:
        return f'Movie "{mid}" ({year})'
    if kind == 1:
        return f'Movie, The "{mid}" ({year})'
    if kind < 4:
        return f"Movie, The {mid} ({year})"
    return f"Movie {mid} ({year})"


def write_movies(rnd, path, movies):
    combos = sorted({"|".join(sorted(rnd.sample(GENRES, k)))
                     for k in (1, 2, 3) for _ in range(200)})
    lines = ["movieId,title,genres"]
    for mid, bits in zip(range(1, movies + 1), u32(rnd, movies)):
        genres = combos[(bits >> 16) % len(combos)]
        lines.append(f"{mid},{quote(title_for(mid, bits))},{genres}")
    with open(path, "w", newline="") as f:
        f.write("\n".join(lines))
        f.write("\n")


def rating_bags(rnd, movies):
    """Per movie, 8 equally likely rating strings around its mean."""
    by_mean2 = {m2: [f"{min(10, max(1, m2 + o)) / 2:.1f}" for o in BAG_OFFSETS]
                for m2 in range(2, 10)}
    return [None] + [by_mean2[round(2 * rnd.uniform(1.0, 4.7))]
                     for _ in range(movies)]


def zipf_table(rnd, movies):
    """2^TABLE_BITS movie ids, each at least once, in Zipf proportions."""
    size = 1 << TABLE_BITS
    ranked = list(range(1, movies + 1))
    rnd.shuffle(ranked)
    weights = [1.0 / (r + 1) for r in range(movies)]
    total = sum(weights)
    slots = [max(1, int(w / total * size)) for w in weights]
    slots[0] += size - sum(slots)
    table = []
    for mid, s in zip(ranked, slots):
        table.extend([mid] * s)
    return table


def rating_rows(rnd, n, movies, shape, table, bags, first_row):
    pick = u32(rnd, n)
    other = u32(rnd, n)
    if shape == "zipf":
        shift = 32 - TABLE_BITS
        mids = [table[x >> shift] for x in pick]
    else:
        mids = [1 + (x * movies >> 32) for x in pick]
    for i in range(-first_row % MISSING_EVERY, n, MISSING_EVERY):
        mids[i] = movies + 1 + (first_row + i) // MISSING_EVERY % MISSING_IDS
    rows = []
    for m, x, y in zip(mids, pick, other):
        r = bags[m][x & 7] if m <= movies else "3.0"
        rows.append(f"{1 + y % 200000},{m},{r},{800000000 + (y >> 4)}")
    return rows


def write_ratings(path, rows):
    with open(path, "w", newline="") as f:
        f.write("userId,movieId,rating,timestamp\n")
        f.write("\n".join(rows))
        f.write("\n")


def generate(seed, out, movies, ratings, shape, batches=0, warmup_rows=0):
    """Write the files and return their description (also meta.json)."""
    rnd = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    write_movies(rnd, os.path.join(out, "movies.csv"), movies)
    bags = rating_bags(rnd, movies)
    table = zipf_table(rnd, movies) if shape == "zipf" else None
    meta = {"seed": seed, "movies": movies, "ratings": ratings, "shape": shape,
            "batches": batches, "warmup_rows": warmup_rows}
    if batches:
        os.makedirs(os.path.join(out, "batches"), exist_ok=True)
        per = ratings // batches
        files = []
        for b in range(batches):
            name = os.path.join("batches", f"batch-{b:05d}.csv")
            write_ratings(os.path.join(out, name),
                          rating_rows(rnd, per, movies, shape, table, bags, b * per))
            files.append(name)
        meta["ratings_files"] = files
    else:
        write_ratings(os.path.join(out, "ratings.csv"),
                      rating_rows(rnd, ratings, movies, shape, table, bags, 0))
        meta["ratings_files"] = ["ratings.csv"]
    if warmup_rows:
        write_ratings(os.path.join(out, "warmup.csv"),
                      rating_rows(rnd, warmup_rows, movies, shape, table, bags, 0))
    meta["ratings_bytes"] = [os.path.getsize(os.path.join(out, f))
                             for f in meta["ratings_files"]]
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--movies", type=int, required=True)
    ap.add_argument("--ratings", type=int, required=True)
    ap.add_argument("--shape", choices=["zipf", "uniform"], required=True)
    ap.add_argument("--batches", type=int, default=0)
    ap.add_argument("--warmup-rows", type=int, default=0)
    a = ap.parse_args()
    meta = generate(a.seed, a.out, a.movies, a.ratings, a.shape, a.batches, a.warmup_rows)
    print(json.dumps({k: meta[k] for k in ("movies", "ratings", "shape", "batches")}
                     | {"ratings_mb": round(sum(meta["ratings_bytes"]) / 1e6, 1)}))


if __name__ == "__main__":
    main()
