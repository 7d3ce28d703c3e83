"""Shared fixtures: one SparkSession for the whole run + the dirty
reference-shaped jobs fixture from FIXTURES.md §A1."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avk_job_skill_analytics_spark.plans.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def is_dir(fs, rel: str) -> bool:
    """True when ``rel`` under ``fs``'s root (an ``IndexFS``) is a
    directory, read from its parent's listing."""
    parent, _, name = rel.rpartition("/")
    found = fs.statuses(parent)
    return found is not None and any(
        n == name and d for n, d, _, _ in found[1])


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


# FIXTURES.md §A1 — each row exercises a specific curation rule.
RAW_JOBS_ROWS = [
    # seq, company, title, type, location, country, salary, date, site, tech, soft, source
    (1, "Amazon ", "Senior Data Engineer II (Remote) - Platform", "full-time",
     "Seattle, WA", "usa", "$120,000", "2025-10-01 09:15:00", "indeed",
     "Python, SQL , spark", "Communication, Teamwork", "Kaggle"),
    (2, "amazon", "senior data engineer ii (remote) - platform", "Full Time",
     "seattle, wa", "US", "130000", "2025-10-01 10:00:00", "indeed",
     "python,sql", "", "Kaggle"),  # dup of 1 on dedup keys after normalize
    (3, "  Google", "Staff Software Engineer [Hybrid] / Infra", "",
     "New York, NY, USA", "United States", "85000", "2025-10-02 11:00:00",
     "zip recruiter", "java, ,kubernetes", "leadership", "HuggingFace"),
    (4, "", "ML Scientist", "intern and part time", "remote", "",
     "45.5", "2025-10-02 12:00:00", "indeed", "", "", "Kaggle"),
    (5, "Meta", "VP of Engineering | Ads", "contract", "Menlo Park, CA",
     "usa", "9999999", "2025-10-03 13:00:00", "indeed",
     "c++, python", "creativity", "Kaggle"),  # salary above band -> dropped
    (6, "Tiny Co", "Data Analyst", "temp", "Austin, TX", "usa",
     "N/A", "not-a-date", "zip recruiter", "excel, sql", "teamwork",
     "HuggingFace"),  # unparseable salary+date -> null salary dropped by band
    (7, "Netflix", "Principal Engineer III - Streaming", "freelance",
     "Los Gatos, CA", "usa", "380900", "2025-11-05 14:00:00", "indeed",
     "python, aws, kafka", "mentoring", "Kaggle"),
    (8, "Stripe", "Jr Developer", "ft", "Dublin", "usa", "30", "2025-11-06 09:00:00",
     "indeed", "javascript, git", "collaboration", "Kaggle"),  # hourly 30 -> 60000
]

RAW_JOBS_COLS = [
    "seq", "company_name", "job_title", "job_type", "job_location", "country",
    "salary", "job_posted_date", "job_posted_site", "technical_skills",
    "soft_skills", "source",
]


@pytest.fixture(scope="session")
def raw_jobs(spark):
    return spark.createDataFrame(RAW_JOBS_ROWS, RAW_JOBS_COLS)
