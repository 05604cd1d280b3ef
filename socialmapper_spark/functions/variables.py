"""P7 — census-variable normalization (names → codes, calculated vars).

Reference: socialmapper/census/services/variable_service.py. Every
reference tutorial passes human-readable names ("total_population",
"median_income"); the service maps them to Census API codes, validates
code format with ``^[A-Z]\\d{5}_\\d{3}[A-Z]$`` (variable_service.py:239-244),
and expands *calculated* variables into their component code lists
(e.g. percent_without_vehicle → [B25044_003E, B25044_010E],
variable_service.py:26-43). The pipeline then order-preserving-dedups the
expanded code list (pipeline/census.py:44-58).

Pure driver-side planning metadata — nothing here touches a row; the
resolved codes parameterize the pivot/aggregate plans.
"""

from __future__ import annotations

import re

# EXACT mapping from variable_service.py:26-43
VARIABLE_MAPPING: dict[str, str | list[str]] = {
    "population": "B01003_001E",
    "total_population": "B01003_001E",
    "median_income": "B19013_001E",
    "median_household_income": "B19013_001E",
    "median_age": "B01002_001E",
    "households": "B11001_001E",
    "housing_units": "B25001_001E",
    "median_home_value": "B25077_001E",
    "white_population": "B02001_002E",
    "black_population": "B02001_003E",
    "hispanic_population": "B03003_003E",
    "education_bachelors_plus": "B15003_022E",
    "percent_poverty": "B17001_002E",
    # calculated: owner + renter occupied households with no vehicle
    "percent_without_vehicle": ["B25044_003E", "B25044_010E"],
    "households_no_vehicle": ["B25044_003E", "B25044_010E"],
}

_CODE_RE = re.compile(r"^[A-Z]\d{5}_\d{3}[A-Z]$")

_CODE_TO_NAME = {
    code: name for name, code in VARIABLE_MAPPING.items() if isinstance(code, str)
}


def is_census_code(variable: str) -> bool:
    """Code-format check (variable_service.py:239-244)."""
    return bool(_CODE_RE.match(variable))


def is_calculated_variable(variable: str) -> bool:
    """True when the name maps to multiple codes (variable_service.py:69-79)."""
    return isinstance(VARIABLE_MAPPING.get(variable.lower()), list)


def normalize_variable(variable: str) -> str | list[str]:
    """Name or code → code(s); unrecognized strings pass through
    (variable_service.py:99-118 — 'could be a custom variable')."""
    if is_census_code(variable):
        return variable
    code = VARIABLE_MAPPING.get(variable.lower())
    if code:
        return code
    return variable


def normalize_variables(variables: list[str]) -> list[str]:
    """Expand + order-preserving dedup, the pipeline's fetch planning
    (pipeline/census.py:44-58)."""
    codes: list[str] = []
    for var in variables:
        norm = normalize_variable(var)
        codes.extend(norm if isinstance(norm, list) else [norm])
    return list(dict.fromkeys(codes))


def code_to_name(census_code: str) -> str:
    """Reverse lookup for simple variables (variable_service.py:120-130)."""
    return _CODE_TO_NAME.get(census_code, census_code)
