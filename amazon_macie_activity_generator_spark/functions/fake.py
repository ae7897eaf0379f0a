"""F1-F12 — fake-content provider library (feeds the K6 S3-put sink).

Reference: stock Faker plus three custom provider classes registered in
``create_faker`` (main.py:329-338): FakeIdentifiers (itin/swift_code/cve,
main.py:117-149), FakeCredentials (aws/slack/github/facebook creds +
/etc/passwd + /etc/shadow, main.py:155-277), FakeCrypto (rsa/dsa/ec/
cert/pgp PEM blocks, main.py:279-327), and ``get_rand_string``
(main.py:84-93). Stock types used by the shipped blueprints
(DefaultBlueprint.json:22-25, SampleBlueprint.json:78-97): bban, iban,
credit_card_full, phone_number, ssn, address, zipcode, email, profile,
file_name, file_path, sentence.

Spark-first design: every provider is a **pure column expression** whose
randomness derives from ``xxhash64(key, salt, ...)`` over a caller-supplied
key column — deterministic, partition-stable, reproducible (SURVEY.md §4.2
RNG discipline), and entirely JVM-side: content for billions of rows is
generated with zero Python in the row path. The reference's ``random.*``
calls are per-process nondeterministic; format parity is what matters
(the fake formats themselves are the documented semantics), so tests
assert the same regex/format envelope the reference produces.
"""

from __future__ import annotations

import string
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

UPPER = string.ascii_uppercase
LETTERS = string.ascii_letters
DIGITS = string.digits
ALNUM = LETTERS + DIGITS
BASE64_CHARS = LETTERS + DIGITS + "+/"  # main.py:152
HEX_LOWER = "0123456789abcdef"
CRLF = "\r\n"


# ----------------------------------------------------------- primitives

def _h(key: Column, *salts: object) -> Column:
    """Deterministic 64-bit hash of (key, salts...)."""
    return F.xxhash64(key, *[s if isinstance(s, Column) else F.lit(s) for s in salts])


def _randint(key: Column, salt: object, lo: int, hi: int | Column) -> Column:
    """Uniform long in [lo, hi] (inclusive, like random.randint)."""
    span = hi - lo + 1
    return F.pmod(_h(key, salt), F.lit(span) if isinstance(span, int) else span) + F.lit(lo)


def _u(key: Column, salt: object) -> Column:
    """Uniform double in [0, 1)."""
    return F.pmod(_h(key, salt), F.lit(1 << 53)) / F.lit(float(1 << 53))


def choice(key: Column, salt: object, options: list[str]) -> Column:
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.pmod(_h(key, salt), F.lit(len(options))) + 1).cast("int"))


def rand_string(key: Column, salt: object, n: int | Column, charset: str = LETTERS) -> Column:
    """F12 — get_rand_string (main.py:84-93) as an expression: n chars
    drawn from charset, each position independently hashed."""
    chars = F.array(*[F.lit(c) for c in charset])
    ln = F.lit(n) if isinstance(n, int) else n
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), ln),
            lambda i: F.element_at(
                chars, (F.pmod(_h(key, salt, i), F.lit(len(charset))) + 1).cast("int")
            ),
        ),
        "",
    )


def uuid4_expr(key: Column, salt: object = "uuid") -> Column:
    """Deterministic uuid4-shaped string from the key hash."""
    hx = F.concat(
        F.lpad(F.lower(F.hex(_h(key, salt, 1))), 16, "0"),
        F.lpad(F.lower(F.hex(_h(key, salt, 2))), 16, "0"),
    )
    return F.concat_ws(
        "-",
        hx.substr(1, 8), hx.substr(9, 4),
        F.concat(F.lit("4"), hx.substr(14, 3)),       # version nibble
        F.concat(F.lit("a"), hx.substr(18, 3)),       # variant nibble
        hx.substr(21, 12),
    )


# ------------------------------------------------- F1-F3 FakeIdentifiers

def itin(key: Column) -> Column:
    """F1 — '9%02d-7%d-%04d' (main.py:117-124)."""
    return F.format_string(
        "9%02d-7%d-%04d",
        _randint(key, "itin1", 0, 99),
        _randint(key, "itin2", 0, 9),
        _randint(key, "itin3", 0, 9999),
    )


_SWIFT_COUNTRIES = ["GB", "US", "DE", "RU", "CA", "JP", "CN"]


def swift_code(key: Column) -> Column:
    """F2 — 4 upper + country + 2 upper, 50% extra 3-char branch suffix
    (main.py:126-139)."""
    base = F.concat(
        rand_string(key, "sw1", 4, UPPER),
        choice(key, "sw2", _SWIFT_COUNTRIES),
        rand_string(key, "sw3", 2, UPPER),
    )
    return F.when(
        _u(key, "sw4") > 0.5, F.concat(base, rand_string(key, "sw5", 3, UPPER))
    ).otherwise(base)


def cve(key: Column, year: int | None = None) -> Column:
    """F3 — 'CVE-%d-%04d', year in [1999, now], id in [1, choice(1e4-1e7-1)]
    (main.py:141-149)."""
    max_year = year or datetime.now(timezone.utc).year
    ub = choice(key, "cve2", ["9999", "99999", "999999", "9999999"]).cast("long")
    return F.format_string(
        "CVE-%d-%04d",
        _randint(key, "cve1", 1999, max_year),
        F.pmod(_h(key, "cve3"), ub) + 1,
    )


# ------------------------------------------------ F4-F9 FakeCredentials

def aws_creds(key: Column) -> Column:
    """F4 — AKIA/ASIA key + 40-char secret (+471-char session token on the
    ASIA branch), 'aws_*=' CRLF lines (main.py:155-184)."""
    access16 = rand_string(key, "ak", 16, UPPER)
    secret = rand_string(key, "sk", 40, BASE64_CHARS)
    token = F.concat(F.lit("FQoDYXdzEJb//////////wEaD"), rand_string(key, "tok", 471, BASE64_CHARS))
    temp = F.concat(
        F.lit("aws_access_key_id=ASIA"), access16, F.lit(CRLF),
        F.lit("aws_secret_access_key="), secret, F.lit(CRLF),
        F.lit("aws_session_token="), token, F.lit(CRLF),
    )
    long_lived = F.concat(
        F.lit("aws_access_key_id=AKIA"), access16, F.lit(CRLF),
        F.lit("aws_secret_access_key="), secret, F.lit(CRLF),
    )
    return F.when(_u(key, "awsb") > 0.5, temp).otherwise(long_lived)


def slack_creds(key: Column) -> Column:
    """F5 — 'slack_token=xox[apbo]-' + digit groups (main.py:186-205)."""
    prefix = F.concat(F.lit("slack_token="), choice(key, "sl1", ["xoxa-", "xoxp-", "xoxb-", "xoxo-"]))
    four = F.format_string(
        "%s-%s-%s-%s",
        rand_string(key, "sl2", 4, DIGITS), rand_string(key, "sl3", 4, DIGITS),
        rand_string(key, "sl4", 5, DIGITS), rand_string(key, "sl5", 10, DIGITS),
    )
    two = F.format_string(
        "%s-%s", rand_string(key, "sl6", 11, DIGITS), rand_string(key, "sl7", 15, DIGITS)
    )
    return F.concat(prefix, F.when(_u(key, "sl8") > 0.5, four).otherwise(two), F.lit(CRLF))


_GITHUB_KEYS = [
    "GITHUB_SECRET", "GITHUB_KEY", "github_secret", "github_key",
    "github_token", "GITHUB_TOKEN", "github_api_key", "GITHUB_API_KEY",
]


def github_creds(key: Column) -> Column:
    """F6 — '<name>:"<40 alnum>"' (main.py:207-216)."""
    return F.concat(
        choice(key, "gh1", _GITHUB_KEYS), F.lit(':"'),
        rand_string(key, "gh2", 40, ALNUM), F.lit('"' + CRLF),
    )


_FACEBOOK_KEYS = ["facebook_secret", "FACEBOOK_SECRET", "facebook_app_secret", "FACEBOOK_APP_SECRET"]


def facebook_creds(key: Column) -> Column:
    """F7 — '<name>="<32 hex>"' (main.py:218-226)."""
    return F.concat(
        choice(key, "fb1", _FACEBOOK_KEYS), F.lit('="'),
        rand_string(key, "fb2", 32, HEX_LOWER), F.lit('"' + CRLF),
    )


LINUX_USER_NAMES = [
    "root", "games", "bin", "daemon", "adm", "lp",
    "mail", "uucp", "operator", "gopher", "ftp", "nobody",
    "rpc", "ntp", "saslauth", "dbus", "tcpdump",
    "mailnull", "smmsp", "rpcuser", "nfsnobdy", "sshd",
]


def _shuffled_names(key: Column, salt: object) -> Column:
    """Deterministic shuffle: sort names by their per-row hash."""
    arr = F.array(*[F.lit(n) for n in LINUX_USER_NAMES])
    keyed = F.transform(arr, lambda nm: F.struct(_h(key, salt, nm).alias("h"), nm.alias("nm")))
    return F.transform(F.array_sort(keyed), lambda s: s["nm"])


def linux_passwd(key: Column) -> Column:
    """F8 — shuffled user subset, one /etc/passwd line each
    (main.py:228-255). Subset size in [len/2, len-1] like the reference."""
    n = len(LINUX_USER_NAMES)
    k = _randint(key, "pw0", n // 2, n - 1).cast("int")
    names = F.slice(_shuffled_names(key, "pw1"), 1, k)
    lines = F.transform(
        names,
        lambda nm: F.format_string(
            "%s:%s:%d:%d:%s:/usr/%s:/sbin/nologin" + CRLF,
            nm, choice(nm, _h(key, "pw2"), ["*", "x"]),
            F.pmod(_h(key, "pw3", nm), F.lit(65535)) + 1,
            F.pmod(_h(key, "pw4", nm), F.lit(65535)) + 1,
            nm, nm,
        ),
    )
    return F.array_join(lines, "")


def linux_shadow(key: Column) -> Column:
    """F9 — shuffled user subset, one /etc/shadow line each (main.py:257-277)."""
    n = len(LINUX_USER_NAMES)
    k = _randint(key, "sh0", n // 2, n - 1).cast("int")
    names = F.slice(_shuffled_names(key, "sh1"), 1, k)
    lines = F.transform(
        names,
        lambda nm: F.format_string(
            "%s:%s:%d:%d:%d:%d:%d:%d:" + CRLF,
            nm, choice(nm, _h(key, "sh2"), ["*", "!!", "*LOCK*"]),
            F.pmod(_h(key, "sh3", nm), F.lit(9001)) + 1000,
            F.pmod(_h(key, "sh4", nm), F.lit(10)) + 1,
            F.pmod(_h(key, "sh5", nm), F.lit(10)) + 1,
            F.pmod(_h(key, "sh6", nm), F.lit(10)) + 1,
            F.pmod(_h(key, "sh7", nm), F.lit(91)) + 10,
            F.pmod(_h(key, "sh8", nm), F.lit(91)) + 10,
        ),
    )
    return F.array_join(lines, "")


# ---------------------------------------------------- F10 FakeCrypto PEM

# b64encode(800 letters) = ceil(800/3)*4 = 1068 chars; + 2-char prefix =
# 1070 -> 16 full 64-char lines + one 46-char line (main.py:316-327).
_PEM_BODY_LEN = 1070


def _pem_body(key: Column, prefix: str, salt: object) -> Column:
    """64-col-wrapped base64-looking body, each line generated directly
    (no shared-subexpression recompute; see operators/dedup.py note on
    CollapseProject)."""
    total = _PEM_BODY_LEN
    n_lines = (total + 63) // 64
    lines = []
    for ln in range(n_lines):
        length = min(64, total - ln * 64)
        if ln == 0:
            lines.append(F.concat(F.lit(prefix), rand_string(key, f"{salt}:{ln}", length - len(prefix), BASE64_CHARS)))
        else:
            lines.append(rand_string(key, f"{salt}:{ln}", length, BASE64_CHARS))
    return F.concat_ws(CRLF, *lines)


def _pem(key: Column, block_id: str, prefix: str = "MI") -> Column:
    return F.concat(
        F.lit(f"-----BEGIN {block_id}-----{CRLF}"),
        _pem_body(key, prefix, block_id),
        F.lit(f"{CRLF}-----END {block_id}-----{CRLF}"),
    )


def rsa(key: Column) -> Column:
    return _pem(key, "RSA PRIVATE KEY")


def dsa(key: Column) -> Column:
    return _pem(key, "DSA PRIVATE KEY")


def ec(key: Column) -> Column:
    return _pem(key, "EC PRIVATE KEY")


def cert(key: Column) -> Column:
    return _pem(key, "CERTIFICATE")


def pgp(key: Column) -> Column:
    block_id = "PGP PRIVATE KEY BLOCK"
    return F.concat(
        F.lit(f"-----BEGIN {block_id}-----{CRLF}"),
        F.lit(f"Version: GnuPG v1.2.3 (OS/2){CRLF}{CRLF}"),
        _pem_body(key, "lQ", block_id),
        F.lit(f"{CRLF}-----END {block_id}-----{CRLF}"),
    )


# --------------------------------------- F11 stock-Faker-equivalent types

_WORDS = [
    "lorem", "ipsum", "dolor", "amet", "consectetur", "adipiscing", "elit",
    "tempor", "incididunt", "labore", "dolore", "magna", "aliqua", "veniam",
    "nostrud", "exercitation", "ullamco", "laboris", "nisi", "aliquip",
    "commodo", "consequat", "aute", "irure", "voluptate", "velit", "esse",
    "cillum", "fugiat", "nulla", "pariatur", "excepteur", "sint", "occaecat",
    "cupidatat", "proident", "culpa", "officia", "deserunt", "mollit",
]
_FIRST_NAMES = ["alice", "bob", "carol", "david", "erin", "frank", "grace", "henry", "irene", "jack"]
_LAST_NAMES = ["smith", "jones", "brown", "taylor", "wilson", "davies", "evans", "thomas", "lee", "clark"]
_DOMAINS = ["example.com", "example.org", "example.net", "mail.example", "test.example"]
_CITIES = ["Springfield", "Riverton", "Fairview", "Kingsport", "Lakeside", "Hillcrest", "Ashford", "Brookdale"]
_STATES = ["AL", "CA", "CO", "FL", "GA", "IL", "MA", "NY", "OH", "TX", "VA", "WA"]
_STREETS = ["Maple", "Oak", "Cedar", "Elm", "Pine", "Walnut", "Chestnut", "Willow"]
_STREET_TYPES = ["St", "Ave", "Blvd", "Rd", "Ln", "Dr", "Ct", "Way"]
_FILE_EXTS = ["txt", "csv", "pdf", "docx", "xlsx", "png", "json", "log"]
_CARD_TYPES = ["VISA 16 digit", "Mastercard", "American Express", "Discover"]


def _word(key: Column, salt: object) -> Column:
    return choice(key, salt, _WORDS)


def sentence(key: Column) -> Column:
    """Default provider when fake_types is unset (main.py:988): 6-12 lorem
    words, capitalized, period."""
    n = _randint(key, "sen0", 6, 12).cast("int")
    words = F.transform(F.sequence(F.lit(1), n), lambda i: _word(key, _h(key, "sen1", i)))
    return F.concat(F.initcap(F.element_at(words, 1)), F.lit(" "),
                    F.array_join(F.slice(words, 2, 11), " "), F.lit("."))


def first_name(key: Column) -> Column:
    return F.initcap(choice(key, "fn", _FIRST_NAMES))


def last_name(key: Column) -> Column:
    return F.initcap(choice(key, "ln", _LAST_NAMES))


def name(key: Column) -> Column:
    return F.concat_ws(" ", first_name(key), last_name(key))


def email(key: Column) -> Column:
    return F.concat(
        choice(key, "em1", _FIRST_NAMES), F.lit("."), choice(key, "em2", _LAST_NAMES),
        F.lit("@"), choice(key, "em3", _DOMAINS),
    )


def phone_number(key: Column) -> Column:
    return F.format_string(
        "(%03d) %03d-%04d",
        _randint(key, "ph1", 200, 999), _randint(key, "ph2", 200, 999),
        _randint(key, "ph3", 0, 9999),
    )


def ssn(key: Column) -> Column:
    # area uniform over [1,899] EXCLUDING the never-issued 666 (Faker
    # skips it too; validation-aware SSN detectors reject it): draw
    # [1,898] and shift the 666+ tail up by one
    area = _randint(key, "ss1", 1, 898)
    area = F.when(area >= 666, area + 1).otherwise(area)
    return F.format_string(
        "%03d-%02d-%04d",
        area, _randint(key, "ss2", 1, 99),
        _randint(key, "ss3", 1, 9999),
    )


def zipcode(key: Column) -> Column:
    return F.format_string("%05d", _randint(key, "zip", 501, 99950))


def address(key: Column) -> Column:
    return F.format_string(
        "%d %s %s, %s, %s %s",
        _randint(key, "ad1", 1, 9999), choice(key, "ad2", _STREETS),
        choice(key, "ad3", _STREET_TYPES), choice(key, "ad4", _CITIES),
        choice(key, "ad5", _STATES), zipcode(key),
    )


def bban(key: Column) -> Column:
    """Basic bank account number: 4 bank letters + 14 digits."""
    return F.concat(rand_string(key, "bb1", 4, UPPER), rand_string(key, "bb2", 14, DIGITS))


def _mod97(numstr: Column) -> Column:
    """ISO 7064 mod-97 of a (long) decimal digit string, folded digit by
    digit so the value never leaves int range."""
    return F.aggregate(
        F.split(numstr, ""),
        F.lit(0),
        lambda acc, ch: F.when(ch == "", acc).otherwise(
            F.pmod(acc * 10 + ch.cast("int"), F.lit(97))
        ),
    )


def _iban_digits(s: Column) -> Column:
    """IBAN letter expansion: A->10 .. Z->35, digits unchanged."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(""),
        lambda acc, ch: F.concat(
            acc,
            F.when(ch == "", F.lit("")).otherwise(
                F.when(ch.rlike("[A-Z]"), (F.ascii(ch) - 55).cast("string")).otherwise(ch)
            ),
        ),
    )


def iban(key: Column) -> Column:
    # real ISO 7064 check digits (98 - mod97(BBAN+GB00)), like Faker's
    # iban(): random check digits validate only ~1 time in 97, so
    # checksum-aware IBAN detectors would never match the content
    bban_col = F.concat(rand_string(key, "ib2", 4, UPPER), rand_string(key, "ib3", 14, DIGITS))
    check = F.lit(98) - _mod97(_iban_digits(F.concat(bban_col, F.lit("GB00"))))
    return F.format_string("GB%02d%s", check, bban_col)


def _luhn_check_digit(payload: Column, n: int) -> Column:
    """Check digit completing an n-digit payload to a Luhn-valid number
    (the payload's rightmost digit is doubled, standard card scheme)."""
    chars = F.split(payload, "")

    def term(p: Column) -> Column:
        d = F.element_at(chars, p).cast("int")
        doubled = F.when(d > 4, d * 2 - 9).otherwise(d * 2)
        # right-position of payload digit p is (n+1-p)+1 in the full
        # number; doubled when that is even <=> p and n share parity
        return F.when(p % 2 == F.lit(n % 2), doubled).otherwise(d)

    s = F.aggregate(F.sequence(F.lit(1), F.lit(n)), F.lit(0), lambda acc, p: acc + term(p))
    return F.pmod(F.lit(10) - F.pmod(s, 10), F.lit(10))


def credit_card_number(key: Column) -> Column:
    # 15-digit payload + computed Luhn check digit: Faker's cards are
    # always Luhn-valid, and card detectors verify Luhn before matching
    payload = F.format_string(
        "4%03d%04d%04d%03d",
        _randint(key, "cc1", 0, 999), _randint(key, "cc2", 0, 9999),
        _randint(key, "cc3", 0, 9999), _randint(key, "cc4", 0, 999),
    )
    return F.concat(payload, _luhn_check_digit(payload, 15).cast("string"))


def credit_card_full(key: Column) -> Column:
    """Multi-line card blob like Faker's credit_card_full."""
    return F.concat(
        choice(key, "ccf1", _CARD_TYPES), F.lit(CRLF),
        name(key), F.lit(CRLF),
        credit_card_number(key),
        F.format_string(" %02d/%02d", _randint(key, "ccf2", 1, 12), _randint(key, "ccf3", 26, 34)),
        F.lit(CRLF),
        F.format_string("CVC: %03d", _randint(key, "ccf4", 0, 999)), F.lit(CRLF),
    )


def file_name(key: Column) -> Column:
    return F.concat(_word(key, "fi1"), F.lit("."), choice(key, "fi2", _FILE_EXTS))


def file_path(key: Column) -> Column:
    return F.concat(F.lit("/"), _word(key, "fp1"), F.lit("/"), _word(key, "fp2"),
                    F.lit("/"), file_name(key))


def profile(key: Column) -> Column:
    """JSON-ish personal profile blob (Faker .profile() analog)."""
    return F.to_json(F.struct(
        name(key).alias("name"), ssn(key).alias("ssn"), address(key).alias("address"),
        email(key).alias("mail"), job(key).alias("job"),
    ))


_JOBS = ["Engineer", "Teacher", "Nurse", "Accountant", "Designer", "Chemist", "Pilot", "Editor"]


def job(key: Column) -> Column:
    return choice(key, "job", _JOBS)


_COMPANY_SUFFIXES = ["Inc", "LLC", "Group", "Ltd", "PLC", "and Sons"]


def company(key: Column) -> Column:
    """Faker .company() analog: 'Capitalized-Lastname Suffix'."""
    return F.concat(
        F.initcap(choice(key, "co1", _LAST_NAMES)), F.lit(" "),
        F.initcap(choice(key, "co2", _WORDS)), F.lit(" "),
        choice(key, "co3", _COMPANY_SUFFIXES),
    )


def user_name(key: Column) -> Column:
    """Faker .user_name() analog: first-initial + last name + 2 digits."""
    return F.concat(
        F.substring(choice(key, "un1", _FIRST_NAMES), 1, 1),
        choice(key, "un2", _LAST_NAMES),
        F.lpad(_randint(key, "un3", 0, 99).cast("string"), 2, "0"),
    )


def url(key: Column) -> Column:
    """Faker .url() analog on reserved example domains."""
    return F.concat(
        F.lit("https://"), _word(key, "u1"), F.lit("."),
        choice(key, "u2", _DOMAINS), F.lit("/"), _word(key, "u3"),
    )


def ipv4(key: Column) -> Column:
    """Dotted-quad in the TEST-NET-3 (203.0.113.0/24) documentation range."""
    return F.concat(F.lit("203.0.113."), _randint(key, "ip4", 0, 255).cast("string"))


def mac_address(key: Column) -> Column:
    """Six seeded hex octets, colon-separated."""
    return F.lower(F.concat_ws(
        ":", *[F.lpad(F.conv(_randint(key, f"mac{i}", 0, 255).cast("string"), 10, 16), 2, "0")
               for i in range(6)]
    ))


def date_of_birth(key: Column) -> Column:
    """ISO date between 1950-01-01 and ~2004 (seeded day offset)."""
    return F.date_format(
        F.date_add(F.lit("1950-01-01").cast("date"), _randint(key, "dob", 0, 20000).cast("int")),
        "yyyy-MM-dd",
    )


# ----------------------------------------------------------- registry

FAKE_PROVIDERS: dict[str, Callable[[Column], Column]] = {
    # custom providers (F1-F10)
    "itin": itin, "swift_code": swift_code, "cve": cve,
    "aws_creds": aws_creds, "slack_creds": slack_creds,
    "github_creds": github_creds, "facebook_creds": facebook_creds,
    "linux_passwd": linux_passwd, "linux_shadow": linux_shadow,
    "rsa": rsa, "dsa": dsa, "ec": ec, "cert": cert, "pgp": pgp,
    # stock types used by the shipped blueprints (F11)
    "sentence": sentence, "email": email, "phone_number": phone_number,
    "ssn": ssn, "address": address, "zipcode": zipcode, "bban": bban,
    "iban": iban, "credit_card_full": credit_card_full, "name": name,
    "file_name": file_name, "file_path": file_path, "profile": profile,
    "company": company, "user_name": user_name, "url": url, "ipv4": ipv4,
    "mac_address": mac_address, "date_of_birth": date_of_birth,
}

def generic_provider(pname: str) -> Callable[[Column], Column]:
    """Dynamic-dispatch fallback for provider names outside the curated
    registry. The reference resolves ANY ``fake_types`` name against the
    Faker object at runtime (main.py:988-991 via call_object_method), so
    a blueprint may name e.g. 'company' or any of Faker's hundreds of
    providers; erroring at analyze time would reject blueprints the
    reference accepts. The fallback emits deterministic seeded lorem
    text (2-5 words, seeded by provider name AND row key) so unknown
    providers still produce stable, distinct-per-provider content."""

    def provider(key: Column) -> Column:
        n = _randint(key, f"gen0:{pname}", 2, 5).cast("int")
        words = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: _word(key, _h(key, f"gen1:{pname}", i)),
        )
        return F.array_join(words, " ")

    return provider


def resolve_provider(pname: str) -> Callable[[Column], Column]:
    """Registry hit if curated, seeded generic fallback otherwise."""
    return FAKE_PROVIDERS.get(pname) or generic_provider(pname)


FAKE_HEADER = (
    "Sample Report - No identification of actual persons or "
    "places is intended or should be inferred" + CRLF + CRLF
)  # main.py:1002-1004


def fake_document(
    key: Column,
    fake_types: list[str] | None = None,
    fake_counts: int = 1,
    prefix: str = "",
) -> Column:
    """K6 content/key builder (create_bucket_object, main.py:977-1020):
    struct<object_key, provider, content>.

    - provider = deterministic choice from ``fake_types`` (default
      ['sentence'], main.py:988)
    - object_key = prefix + (provider | 'mixed') + '/' + uuid + '.fake',
      50/50 split (main.py:996-1001)
    - content = header + fake_counts provider lines (main.py:1002-1008)
    """
    fake_types = fake_types or ["sentence"]

    provider = choice(key, "prov", fake_types)
    # content: dispatch the chosen provider via a when-chain; line i keyed
    # by (key, line, i) so repeated lines differ. Names outside the
    # curated registry fall back to the seeded generic provider, mirroring
    # the reference's dynamic Faker dispatch (main.py:988-991).
    def lines_for(pname: str) -> Column:
        fn = resolve_provider(pname)
        return F.concat(*[
            F.concat(fn(_h(key, "line", i)).cast("string"), F.lit(CRLF))
            for i in range(fake_counts)
        ])

    content = F.lit(None).cast("string")
    expr = None
    for pname in fake_types:
        branch = lines_for(pname)
        expr = F.when(provider == pname, branch) if expr is None else expr.when(provider == pname, branch)
    content = F.concat(F.lit(FAKE_HEADER), expr if expr is not None else lines_for(fake_types[0]))

    key_prefix = F.when(_u(key, "grp") < 0.5, provider).otherwise(F.lit("mixed"))
    object_key = F.concat(F.lit(prefix), key_prefix, F.lit("/"), uuid4_expr(key), F.lit(".fake"))
    return F.struct(
        object_key.alias("object_key"), provider.alias("provider"), content.alias("content")
    )
