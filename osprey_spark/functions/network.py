"""Network / identity pandas UDFs.

``EmailDomain`` (stdlib/udfs/email_domain.py:14-35) collapses a domain to
its registrable second-level + TLD; the reference uses the ``tld``
public-suffix library — not available here, so a compact common
multi-part-suffix table approximates the public-suffix list (documented
divergence for exotic suffixes).

``PhoneCountry`` (stdlib/udfs/phone_country.py:13-30) maps E.164 prefixes
to ISO-3166 alpha-2; the reference uses ``phone_iso3166`` — here a
longest-prefix table of country calling codes.

``IpNetwork`` v6 path (stdlib/udfs/ip_network.py:13-28): exploded address
with leading zeros stripped per group.
"""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osprey_spark.sml import types as st
from osprey_spark.sml.compiler import CV

# common second-level public suffixes (subset of the PSL)
_TWO_PART_SUFFIXES = {
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "org.mx", "net.mx",
    "co.nz", "net.nz", "org.nz",
    "co.za", "org.za", "net.za",
    "com.sg", "com.tr", "com.tw", "com.hk", "com.ar", "com.co",
    "co.kr", "or.kr", "co.id", "or.id",
}


def _registrable_domain(domain: str) -> str | None:
    labels = domain.lower().rstrip(".").split(".")
    if len(labels) < 2:
        return None
    two = ".".join(labels[-2:])
    if two in _TWO_PART_SUFFIXES and len(labels) >= 3:
        return ".".join(labels[-3:])
    return two


def _email_domain_one(email: str) -> str | None:
    if "@" not in email:
        return None
    domain = email.rsplit("@", 1)[1].lower()
    return _registrable_domain(domain)


@F.pandas_udf(T.StringType())
def email_domain_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _email_domain_one(v))


@F.pandas_udf(T.StringType())
def domain_tld_udf(s: pd.Series) -> pd.Series:
    def one(v: str) -> str | None:
        labels = v.lower().rstrip(".").split(".")
        if len(labels) < 2:
            return None
        two = ".".join(labels[-2:])
        return two if two in _TWO_PART_SUFFIXES else labels[-1]

    return s.map(lambda v: None if v is None else one(v))


@F.pandas_udf(T.ArrayType(T.StringType()))
def domain_chopper_udf(s: pd.Series) -> pd.Series:
    """urls → list of registrable first-level domains (domain_chopper.py:15-51)."""
    from urllib.parse import urlparse

    def one(urls):
        if urls is None:
            return None
        out = []
        for u in urls:
            try:
                netloc = urlparse(u).netloc or u
            except ValueError:
                continue
            host = netloc.split("@")[-1].split(":")[0]
            fld = _registrable_domain(host)
            if fld:
                out.append(fld)
        return out

    return s.map(one)


# country calling codes (longest-prefix match); compact table of the
# most common assignments
_CC = {
    "1": "US", "7": "RU", "20": "EG", "27": "ZA", "30": "GR", "31": "NL",
    "32": "BE", "33": "FR", "34": "ES", "36": "HU", "39": "IT", "40": "RO",
    "41": "CH", "43": "AT", "44": "GB", "45": "DK", "46": "SE", "47": "NO",
    "48": "PL", "49": "DE", "51": "PE", "52": "MX", "53": "CU", "54": "AR",
    "55": "BR", "56": "CL", "57": "CO", "58": "VE", "60": "MY", "61": "AU",
    "62": "ID", "63": "PH", "64": "NZ", "65": "SG", "66": "TH", "81": "JP",
    "82": "KR", "84": "VN", "86": "CN", "90": "TR", "91": "IN", "92": "PK",
    "93": "AF", "94": "LK", "95": "MM", "98": "IR", "212": "MA", "213": "DZ",
    "216": "TN", "218": "LY", "220": "GM", "221": "SN", "233": "GH",
    "234": "NG", "254": "KE", "255": "TZ", "256": "UG", "351": "PT",
    "352": "LU", "353": "IE", "354": "IS", "358": "FI", "370": "LT",
    "371": "LV", "372": "EE", "380": "UA", "381": "RS", "385": "HR",
    "386": "SI", "420": "CZ", "421": "SK", "852": "HK", "853": "MO",
    "855": "KH", "856": "LA", "880": "BD", "886": "TW", "961": "LB",
    "962": "JO", "963": "SY", "964": "IQ", "965": "KW", "966": "SA",
    "967": "YE", "968": "OM", "971": "AE", "972": "IL", "973": "BH",
    "974": "QA", "975": "BT", "976": "MN", "977": "NP", "994": "AZ",
    "995": "GE", "998": "UZ",
}


def _phone_country_one(number: str) -> str | None:
    digits = number.lstrip("+").replace(" ", "").replace("-", "")
    for ln in (3, 2, 1):
        if digits[:ln] in _CC:
            return _CC[digits[:ln]]
    return None


@F.pandas_udf(T.StringType())
def phone_country_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _phone_country_one(v))


@F.pandas_udf(T.StringType())
def ip_network_v6_udf(s: pd.Series) -> pd.Series:
    def one(v: str) -> str | None:
        try:
            ip = ipaddress.ip_address(v)
        except ValueError:
            return None
        if isinstance(ip, ipaddress.IPv6Address):
            groups = ip.exploded.split(":")
            return ":".join(g.lstrip("0") or "0" for g in groups)
        return ".".join(v.split(".")[:3] + ["0"])

    return s.map(lambda v: None if v is None else one(v))


def email_domain_impl(comp, call):
    from osprey_spark.sml.stdlib import _arg

    email = _arg(comp, call, "email")
    return CV(email_domain_udf(email.col), st.STR)


def domain_tld_impl(comp, call):
    from osprey_spark.sml.stdlib import _arg

    domain = _arg(comp, call, "domain")
    return CV(domain_tld_udf(domain.col), st.STR)


def domain_chopper_impl(comp, call):
    from osprey_spark.sml.stdlib import _arg

    urls = _arg(comp, call, "urls")
    return CV(domain_chopper_udf(urls.col), st.list_of(st.STR))


def phone_country_impl(comp, call):
    from osprey_spark.sml.stdlib import _arg

    number = _arg(comp, call, "number")
    return CV(phone_country_udf(number.col), st.STR)
