"""Seeded input generator for the reef-ml workload.

`reef(dir, seed, surveys)` writes a reef-survey CSV with the 20 columns
of the Reef Life Survey export (FIXTURES.md section 1) and a 189-name
family vocabulary. The vocabulary is synthetic: the reference family
list is not in the repository. The shape follows BASELINE.md: about 40.6
records per survey, about 7.8 surveys per site, 191 families in the data
of which 2 are outside the vocabulary, quoted commas in `Site`, and one
survey whose families are all outside the vocabulary.

The same seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv


def reef(dir, seed, surveys):
    """Writes reef.csv and vocab.txt."""
    rng = np.random.default_rng(seed)
    os.makedirs(dir, exist_ok=True)
    vocab = [f"Fam{i:03d}idae" for i in range(189)]
    families = vocab + ["Outsideidae", "Strangeridae"]
    n_sites = max(2, surveys * 10 // 78)
    site_lat = np.clip(rng.normal(-22.0, 21.0, n_sites), -67.57, 78.45).round(2)
    site_long = np.clip(rng.normal(107.0, 82.0, n_sites), -179.14, 177.18).round(2)
    # each family prefers a latitude and a longitude band, so location
    # is learnable from the family mix
    fam_lat = rng.uniform(-70, 80, len(families))
    fam_long = rng.uniform(-180, 180, len(families))
    survey_site = rng.integers(0, n_sites, surveys)
    per_survey = rng.poisson(40.6, surveys).clip(1, None)
    sid = np.repeat(np.arange(surveys), per_survey)
    site = survey_site[sid]
    n = len(sid)
    # sample families by closeness of the survey site to each family's band
    lat_d = np.abs(site_lat[site][:, None] - fam_lat[None, :]) / 20.0
    long_d = np.abs(site_long[site][:, None] - fam_long[None, :]) / 60.0
    w = np.exp(-(lat_d + long_d))
    w /= w.sum(axis=1, keepdims=True)
    fam = (w.cumsum(axis=1) > rng.random(n)[:, None]).argmax(axis=1)
    # the last survey holds only families outside the vocabulary
    last = sid == surveys - 1
    fam[last] = len(vocab) + rng.integers(0, 2, last.sum())
    site_name = [f"Reef {s}, north side" if s % 3 == 0 else f"Reef {s}"
                 for s in range(n_sites)]
    cols = {
        "FID": [f"fid.{i}" for i in range(n)],
        "Key": np.arange(n),
        "SurveyID": 62_000_000 + sid,
        "Country": [f"Country{s % 40}" for s in site],
        "Ecoregion": [f"Ecoregion{s % 90}" for s in site],
        "Realm": [f"Realm{s % 12}" for s in site],
        "SiteCode": [f"SC{s:05d}" for s in site],
        "Site": [site_name[s] for s in site],
        "SiteLat": site_lat[site],
        "SiteLong": site_long[site],
        "SurveyDate": [f"2010-01-{1 + s % 28:02d}" for s in sid],
        "Depth": rng.integers(1, 20, n),
        "Phylum": ["Chordata"] * n,
        "Class": ["Actinopterygii"] * n,
        "Family": [families[f] for f in fam],
        "Taxon": [f"Taxon {f}" for f in fam],
        "Block": rng.integers(1, 3, n),
        "Total": rng.geometric(0.15, n),
        "Diver": [f"D{d}" for d in rng.integers(0, 50, n)],
        "geom": [f"POINT ({site_long[s]} {site_lat[s]})" for s in site],
    }
    pacsv.write_csv(pa.table(cols), os.path.join(dir, "reef.csv"),
                    pacsv.WriteOptions(quoting_style="needed"))
    with open(os.path.join(dir, "vocab.txt"), "w") as f:
        f.write("\n".join(vocab) + "\n")
