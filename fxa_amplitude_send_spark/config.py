"""Typed pipeline configuration.

The reference validates five required env vars at startup and exits fatally if
any is missing (synchronous-pull.js:15-21); MAX_RETRIES defaults to 3
(synchronous-pull.js:16). Here that contract is a dataclass validated at
construction so a misconfigured job fails before any Spark work is scheduled.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


class ConfigError(ValueError):
    """Raised when required pipeline configuration is missing/invalid."""


@dataclass(frozen=True)
class PipelineConfig:
    """Mirror of the reference's operating envelope.

    amplitude_api_key : sink credential (utils.js:98)
    hmac_key          : pseudonymization secret (utils.js:16-26)
    max_events_per_batch : transport batch cap — both pull size and sink POST
        chunk size (synchronous-pull.js:33, utils.js:99)
    max_retries       : bounded sink retry before give-up (synchronous-pull.js:16)
    endpoint          : sink URL (utils.js:93)
    timeout_seconds   : sink request timeout (utils.js:101 — 5 s)
    retry_all_errors  : the reference retries every failure including 4xx
        (synchronous-pull.js:74-86 never calls bail). Engine default False:
        only 408/429/5xx are retried — a documented divergence (SURVEY.md §2A).
    """

    amplitude_api_key: str
    hmac_key: str
    max_events_per_batch: int
    max_retries: int = 3
    endpoint: str = "https://api.amplitude.com/batch"
    timeout_seconds: float = 5.0
    retry_all_errors: bool = False

    def __post_init__(self) -> None:
        missing = [
            name
            for name, value in (
                ("amplitude_api_key", self.amplitude_api_key),
                ("hmac_key", self.hmac_key),
            )
            if not value
        ]
        if missing:
            raise ConfigError(f"missing required config: {', '.join(missing)}")
        if self.max_events_per_batch <= 0:
            raise ConfigError("max_events_per_batch must be positive")
        if self.max_retries < 0:
            raise ConfigError("max_retries must be >= 0")

    @classmethod
    def from_env(cls, env: dict | None = None) -> "PipelineConfig":
        env = dict(os.environ if env is None else env)
        try:
            return cls(
                amplitude_api_key=env.get("AMPLITUDE_API_KEY", ""),
                hmac_key=env.get("HMAC_KEY", ""),
                max_events_per_batch=int(env.get("MAX_EVENTS_PER_BATCH", "0")),
                max_retries=int(env.get("MAX_RETRIES", "3")),
            )
        except ValueError as exc:
            raise ConfigError(str(exc)) from exc
