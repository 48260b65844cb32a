"""Probing n-gram language detection (SURVEY.md §2.9 X12).

Re-expresses the reference's probing control flow
(``lang-id/lang-id-tika-opennlp/.../ProbingLanguageDetector.java:50-200``)
from scratch over a self-contained char-n-gram model:

- char 1–3-grams accumulated across 300-codepoint chunks, max 10,000
  codepoints (DEFAULT_CHUNK_SIZE / DEFAULT_MAX_LENGTH);
- a prediction is probed every 110 n-grams (``++nGrams % 110``);
- early stop when the best language is unchanged with non-decreasing
  confidence over 2 consecutive probes (DEFAULT_MIN_CONSEC_IMPROVEMENTS)
  AND best-minus-second confidence ≥ 0.20 (DEFAULT_MIN_DIFF);
- result: languages ranked by confidence, like ``predictLanguages``.

The model itself is a multinomial n-gram scorer with add-one smoothing over
built-in seed corpora (authored here, no external data): P(lang | grams) ∝
Π P(gram | lang), confidences = softmax of length-normalized log-scores.
This stands in for the OpenNLP maxent model the reference loads from disk;
the probing semantics — the part the reference actually contributes — are
faithfully reproduced and unit-tested.

Spark surface: ``detect_languages_df`` — a vectorized mapInArrow over the
text column returning ``array<struct<lang,conf>>`` (the reference's
``LangDetector.detect → List<LangDetectResult>`` shape,
``lang-id/.../LangDetector.java``).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

CHUNK_SIZE = 300
MAX_LENGTH = 10_000
MIN_CONSEC_IMPROVEMENTS = 2
MIN_DIFF = 0.20
PROBE_EVERY = 110

# ---------------------------------------------------------------------------
# seed corpora — authored multi-paragraph text per language, 72 languages
# (meeting the reference's 70+ OpenNLP model breadth)
# (self-contained, written for this repo; no external data). Each language
# gets three paragraphs on DIFFERENT topics (village morning / market and
# cooking / city work and travel) so the trigram tables are not fit to one
# story's vocabulary. Held-out sentences on further unrelated topics live in
# tests/test_langid.py. Breadth stands in for the reference's 70+ OpenNLP
# models (ProbingLanguageDetector.java); probing semantics are what the
# reference contributes and are reproduced above.
# ---------------------------------------------------------------------------
LANG_SAMPLES: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the children "
        "watch from the garden and their mother brings fresh bread with "
        "butter and honey because the morning light makes everything feel "
        "possible and the old clock on the wall keeps counting the hours "
        "that we spend together reading stories about distant mountains "
        "and the people who walk through them looking for a quiet place\n"
        "at the market the farmers sell apples onions and cheese and the "
        "baker explains how long the dough must rest before it goes into "
        "the hot oven she says that good soup needs time salt and a little "
        "patience and that nobody should cook fish longer than necessary "
        "we bought eggs tomatoes and a bag of rice for the week\n"
        "the office was busy on monday because the new project had started "
        "and everyone wanted to read the report before the meeting the "
        "train to the city was full of people carrying bags and phones "
        "and through the window you could see factories bridges and long "
        "rows of houses under a grey sky work ended late but the streets "
        "were still bright with lamps and music from the open doors"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund während die "
        "kinder aus dem garten zuschauen und ihre mutter frisches brot mit "
        "butter und honig bringt weil das morgenlicht alles möglich "
        "erscheinen lässt und die alte uhr an der wand weiter die stunden "
        "zählt die wir zusammen verbringen und geschichten über ferne "
        "berge lesen und über die menschen die dort einen stillen ort suchen\n"
        "auf dem markt verkaufen die bauern äpfel zwiebeln und käse und der "
        "bäcker erklärt wie lange der teig ruhen muss bevor er in den "
        "heißen ofen kommt sie sagt dass eine gute suppe zeit salz und "
        "etwas geduld braucht und dass man fisch niemals länger kochen "
        "sollte als nötig wir kauften eier tomaten und einen sack reis\n"
        "im büro war am montag viel los weil das neue projekt begonnen "
        "hatte und alle den bericht vor der besprechung lesen wollten der "
        "zug in die stadt war voller menschen mit taschen und telefonen "
        "und durch das fenster sah man fabriken brücken und lange reihen "
        "von häusern unter einem grauen himmel die arbeit endete spät aber "
        "die straßen waren noch hell von lampen und musik aus offenen türen"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux pendant "
        "que les enfants regardent depuis le jardin et que leur mère "
        "apporte du pain frais avec du beurre et du miel parce que la "
        "lumière du matin rend tout possible et la vieille horloge sur le "
        "mur continue de compter les heures que nous passons ensemble à "
        "lire des histoires sur des montagnes lointaines\n"
        "au marché les paysans vendent des pommes des oignons et du "
        "fromage et le boulanger explique combien de temps la pâte doit "
        "reposer avant d entrer dans le four chaud elle dit qu une bonne "
        "soupe demande du temps du sel et un peu de patience et qu il ne "
        "faut jamais cuire le poisson plus longtemps que nécessaire nous "
        "avons acheté des œufs des tomates et un sac de riz pour la semaine\n"
        "le bureau était agité lundi parce que le nouveau projet avait "
        "commencé et tout le monde voulait lire le rapport avant la "
        "réunion le train vers la ville était plein de gens portant des "
        "sacs et des téléphones et par la fenêtre on voyait des usines des "
        "ponts et de longues rangées de maisons sous un ciel gris le "
        "travail a fini tard mais les rues restaient claires et pleines de musique"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso mientras los "
        "niños miran desde el jardín y su madre trae pan fresco con "
        "mantequilla y miel porque la luz de la mañana hace que todo "
        "parezca posible y el viejo reloj de la pared sigue contando las "
        "horas que pasamos juntos leyendo historias sobre montañas lejanas "
        "y la gente que busca allí un lugar tranquilo\n"
        "en el mercado los campesinos venden manzanas cebollas y queso y "
        "el panadero explica cuánto tiempo debe reposar la masa antes de "
        "entrar en el horno caliente ella dice que una buena sopa necesita "
        "tiempo sal y un poco de paciencia y que nadie debería cocinar el "
        "pescado más de lo necesario compramos huevos tomates y un saco de arroz\n"
        "la oficina estaba ocupada el lunes porque el nuevo proyecto había "
        "comenzado y todos querían leer el informe antes de la reunión el "
        "tren hacia la ciudad iba lleno de gente con bolsas y teléfonos y "
        "por la ventana se veían fábricas puentes y largas filas de casas "
        "bajo un cielo gris el trabajo terminó tarde pero las calles "
        "seguían llenas de luz y de música que salía por las puertas abiertas"
    ),
    "it": (
        "la veloce volpe marrone salta sopra il cane pigro mentre i bambini "
        "guardano dal giardino e la loro madre porta pane fresco con burro "
        "e miele perché la luce del mattino fa sembrare tutto possibile e "
        "il vecchio orologio sul muro continua a contare le ore che "
        "passiamo insieme leggendo storie di montagne lontane e della "
        "gente che vi cerca un posto tranquillo\n"
        "al mercato i contadini vendono mele cipolle e formaggio e il "
        "fornaio spiega quanto tempo deve riposare l impasto prima di "
        "entrare nel forno caldo lei dice che una buona zuppa richiede "
        "tempo sale e un poco di pazienza e che nessuno dovrebbe cuocere "
        "il pesce più del necessario abbiamo comprato uova pomodori e riso\n"
        "l ufficio era pieno di lavoro lunedì perché il nuovo progetto era "
        "iniziato e tutti volevano leggere il rapporto prima della "
        "riunione il treno per la città era pieno di persone con borse e "
        "telefoni e dal finestrino si vedevano fabbriche ponti e lunghe "
        "file di case sotto un cielo grigio il lavoro è finito tardi ma le "
        "strade erano ancora luminose e piene di musica dalle porte aperte"
    ),
    "pt": (
        "a rápida raposa marrom pula sobre o cão preguiçoso enquanto as "
        "crianças observam do jardim e a mãe delas traz pão fresco com "
        "manteiga e mel porque a luz da manhã faz tudo parecer possível e "
        "o velho relógio na parede continua contando as horas que passamos "
        "juntos lendo histórias sobre montanhas distantes e as pessoas que "
        "procuram ali um lugar tranquilo\n"
        "no mercado os agricultores vendem maçãs cebolas e queijo e o "
        "padeiro explica quanto tempo a massa deve descansar antes de "
        "entrar no forno quente ela diz que uma boa sopa precisa de tempo "
        "sal e um pouco de paciência e que ninguém deveria cozinhar o "
        "peixe mais do que o necessário compramos ovos tomates e arroz\n"
        "o escritório estava agitado na segunda feira porque o novo "
        "projeto tinha começado e todos queriam ler o relatório antes da "
        "reunião o comboio para a cidade ia cheio de pessoas com sacos e "
        "telefones e pela janela viam se fábricas pontes e longas filas de "
        "casas sob um céu cinzento o trabalho acabou tarde mas as ruas "
        "ainda estavam cheias de luz e de música vinda das portas abertas"
    ),
    "nl": (
        "de snelle bruine vos springt over de luie hond terwijl de kinderen "
        "vanuit de tuin toekijken en hun moeder vers brood met boter en "
        "honing brengt omdat het ochtendlicht alles mogelijk laat lijken "
        "en de oude klok aan de muur de uren blijft tellen die we samen "
        "doorbrengen met het lezen van verhalen over verre bergen\n"
        "op de markt verkopen de boeren appels uien en kaas en de bakker "
        "legt uit hoe lang het deeg moet rusten voordat het de hete oven "
        "in gaat zij zegt dat goede soep tijd zout en een beetje geduld "
        "nodig heeft en dat niemand vis langer moet koken dan nodig wij "
        "kochten eieren tomaten en een zak rijst voor de hele week\n"
        "het kantoor was druk op maandag omdat het nieuwe project was "
        "begonnen en iedereen het verslag wilde lezen voor de vergadering "
        "de trein naar de stad zat vol mensen met tassen en telefoons en "
        "door het raam zag je fabrieken bruggen en lange rijen huizen "
        "onder een grijze lucht het werk eindigde laat maar de straten "
        "waren nog licht van de lampen en de muziek uit de open deuren"
    ),
    "sv": (
        "den snabba bruna räven hoppar över den lata hunden medan barnen "
        "tittar från trädgården och deras mor kommer med färskt bröd med "
        "smör och honung eftersom morgonljuset får allt att kännas möjligt "
        "och den gamla klockan på väggen fortsätter räkna timmarna som vi "
        "tillbringar tillsammans med att läsa berättelser om avlägsna berg\n"
        "på torget säljer bönderna äpplen lök och ost och bagaren "
        "förklarar hur länge degen måste vila innan den åker in i den "
        "heta ugnen hon säger att en god soppa behöver tid salt och lite "
        "tålamod och att ingen borde koka fisk längre än nödvändigt vi "
        "köpte ägg tomater och en påse ris för hela veckan\n"
        "kontoret var fullt av arbete på måndagen eftersom det nya "
        "projektet hade börjat och alla ville läsa rapporten före mötet "
        "tåget till staden var fullt av människor med väskor och "
        "telefoner och genom fönstret såg man fabriker broar och långa "
        "rader av hus under en grå himmel arbetet slutade sent men "
        "gatorna var fortfarande ljusa av lampor och musik"
    ),
    "da": (
        "den hurtige brune ræv springer over den dovne hund mens børnene "
        "ser på fra haven og deres mor kommer med frisk brød med smør og "
        "honning fordi morgenlyset får alting til at føles muligt og det "
        "gamle ur på væggen bliver ved med at tælle timerne som vi "
        "tilbringer sammen med at læse historier om fjerne bjerge\n"
        "på torvet sælger bønderne æbler løg og ost og bageren forklarer "
        "hvor længe dejen skal hvile før den kommer i den varme ovn hun "
        "siger at en god suppe kræver tid salt og lidt tålmodighed og at "
        "ingen bør koge fisk længere end nødvendigt vi købte æg tomater "
        "og en pose ris til hele ugen\n"
        "kontoret havde travlt om mandagen fordi det nye projekt var "
        "begyndt og alle ville læse rapporten før mødet toget ind til "
        "byen var fyldt med mennesker med tasker og telefoner og gennem "
        "vinduet kunne man se fabrikker broer og lange rækker af huse "
        "under en grå himmel arbejdet sluttede sent men gaderne var "
        "stadig lyse af lamper og musik fra de åbne døre"
    ),
    "no": (
        "den raske brune reven hopper over den late hunden mens barna ser "
        "på fra hagen og moren deres kommer med ferskt brød med smør og "
        "honning fordi morgenlyset får alt til å kjennes mulig og den "
        "gamle klokka på veggen fortsetter å telle timene som vi "
        "tilbringer sammen med å lese fortellinger om fjerne fjell\n"
        "på torget selger bøndene epler løk og ost og bakeren forklarer "
        "hvor lenge deigen må hvile før den settes inn i den varme ovnen "
        "hun sier at en god suppe trenger tid salt og litt tålmodighet og "
        "at ingen bør koke fisk lenger enn nødvendig vi kjøpte egg "
        "tomater og en pose ris til hele uken\n"
        "kontoret var travelt på mandag fordi det nye prosjektet hadde "
        "begynt og alle ville lese rapporten før møtet toget inn til byen "
        "var fullt av folk med vesker og telefoner og gjennom vinduet "
        "kunne man se fabrikker bruer og lange rekker med hus under en "
        "grå himmel arbeidet sluttet sent men gatene var fortsatt lyse"
    ),
    "fi": (
        "nopea ruskea kettu hyppää laiskan koiran yli kun lapset "
        "katselevat puutarhasta ja heidän äitinsä tuo tuoretta leipää "
        "voin ja hunajan kanssa koska aamun valo saa kaiken tuntumaan "
        "mahdolliselta ja vanha kello seinällä laskee yhä tunteja jotka "
        "vietämme yhdessä lukien tarinoita kaukaisista vuorista\n"
        "torilla maanviljelijät myyvät omenoita sipulia ja juustoa ja "
        "leipuri selittää kuinka kauan taikinan täytyy levätä ennen kuin "
        "se menee kuumaan uuniin hän sanoo että hyvä keitto tarvitsee "
        "aikaa suolaa ja hieman kärsivällisyyttä emmekä saa keittää kalaa "
        "pidempään kuin on tarpeen ostimme munia tomaatteja ja riisiä\n"
        "toimistossa oli kiire maanantaina koska uusi hanke oli alkanut "
        "ja kaikki halusivat lukea raportin ennen kokousta juna "
        "kaupunkiin oli täynnä ihmisiä laukkujen ja puhelinten kanssa ja "
        "ikkunasta näkyi tehtaita siltoja ja pitkiä talorivejä harmaan "
        "taivaan alla työ päättyi myöhään mutta kadut olivat yhä valoisat"
    ),
    "pl": (
        "szybki brązowy lis skacze przez leniwego psa podczas gdy dzieci "
        "patrzą z ogrodu a ich matka przynosi świeży chleb z masłem i "
        "miodem ponieważ poranne światło sprawia że wszystko wydaje się "
        "możliwe a stary zegar na ścianie wciąż liczy godziny które "
        "spędzamy razem czytając opowieści o dalekich górach\n"
        "na targu rolnicy sprzedają jabłka cebulę i ser a piekarz "
        "tłumaczy jak długo ciasto musi odpoczywać zanim trafi do "
        "gorącego pieca ona mówi że dobra zupa potrzebuje czasu soli i "
        "trochę cierpliwości i że nikt nie powinien gotować ryby dłużej "
        "niż trzeba kupiliśmy jajka pomidory i worek ryżu na cały tydzień\n"
        "w biurze w poniedziałek było dużo pracy ponieważ nowy projekt "
        "się zaczął i wszyscy chcieli przeczytać raport przed zebraniem "
        "pociąg do miasta był pełen ludzi z torbami i telefonami a przez "
        "okno widać było fabryki mosty i długie rzędy domów pod szarym "
        "niebem praca skończyła się późno ale ulice wciąż były jasne"
    ),
    "cs": (
        "rychlá hnědá liška skáče přes líného psa zatímco děti se dívají "
        "ze zahrady a jejich matka přináší čerstvý chléb s máslem a medem "
        "protože ranní světlo dává pocit že všechno je možné a staré "
        "hodiny na stěně dál počítají hodiny které trávíme společně "
        "čtením příběhů o dalekých horách\n"
        "na trhu prodávají rolníci jablka cibuli a sýr a pekař vysvětluje "
        "jak dlouho musí těsto odpočívat než přijde do horké pece říká že "
        "dobrá polévka potřebuje čas sůl a trochu trpělivosti a že nikdo "
        "by neměl vařit rybu déle než je nutné koupili jsme vejce rajčata "
        "a pytel rýže na celý týden\n"
        "v kanceláři bylo v pondělí rušno protože začal nový projekt a "
        "všichni chtěli přečíst zprávu před schůzí vlak do města byl plný "
        "lidí s taškami a telefony a oknem byly vidět továrny mosty a "
        "dlouhé řady domů pod šedou oblohou práce skončila pozdě ale "
        "ulice byly stále světlé od lamp a hudby z otevřených dveří"
    ),
    "ro": (
        "vulpea maro și rapidă sare peste câinele leneș în timp ce copiii "
        "privesc din grădină iar mama lor aduce pâine proaspătă cu unt și "
        "miere pentru că lumina dimineții face ca totul să pară posibil "
        "iar ceasul vechi de pe perete continuă să numere orele pe care "
        "le petrecem împreună citind povești despre munți îndepărtați\n"
        "la piață țăranii vând mere ceapă și brânză iar brutarul explică "
        "cât timp trebuie să se odihnească aluatul înainte să intre în "
        "cuptorul fierbinte ea spune că o supă bună are nevoie de timp "
        "sare și puțină răbdare și că nimeni nu ar trebui să fiarbă "
        "peștele mai mult decât este necesar am cumpărat ouă roșii și orez\n"
        "biroul era aglomerat luni pentru că începuse proiectul nou și "
        "toți voiau să citească raportul înainte de ședință trenul spre "
        "oraș era plin de oameni cu genți și telefoane iar pe fereastră "
        "se vedeau fabrici poduri și șiruri lungi de case sub un cer gri "
        "munca s a terminat târziu dar străzile erau încă luminoase"
    ),
    "hu": (
        "a gyors barna róka átugrik a lusta kutya fölött miközben a "
        "gyerekek a kertből nézik és az anyjuk friss kenyeret hoz vajjal "
        "és mézzel mert a reggeli fény mindent lehetségesnek mutat és a "
        "régi óra a falon tovább számolja az órákat amelyeket együtt "
        "töltünk történeteket olvasva távoli hegyekről\n"
        "a piacon a gazdák almát hagymát és sajtot árulnak és a pék "
        "elmagyarázza meddig kell pihennie a tésztának mielőtt a forró "
        "kemencébe kerül azt mondja hogy a jó leveshez idő só és egy kis "
        "türelem kell és hogy senki ne főzze a halat tovább a "
        "szükségesnél tojást paradicsomot és egy zsák rizst vettünk\n"
        "az irodában hétfőn sok munka volt mert elkezdődött az új projekt "
        "és mindenki el akarta olvasni a jelentést a megbeszélés előtt a "
        "városba tartó vonat tele volt emberekkel táskákkal és "
        "telefonokkal és az ablakból gyárak hidak és hosszú házsorok "
        "látszottak a szürke ég alatt a munka későn ért véget de az "
        "utcák még világosak voltak a lámpáktól és a zenétől"
    ),
    "tr": (
        "hızlı kahverengi tilki tembel köpeğin üzerinden atlarken çocuklar "
        "bahçeden izliyor ve anneleri tereyağı ve bal ile taze ekmek "
        "getiriyor çünkü sabah ışığı her şeyi mümkün gösteriyor ve "
        "duvardaki eski saat birlikte geçirdiğimiz saatleri saymaya devam "
        "ediyor uzak dağlar hakkında hikayeler okuyoruz\n"
        "pazarda çiftçiler elma soğan ve peynir satıyor ve fırıncı "
        "hamurun sıcak fırına girmeden önce ne kadar dinlenmesi "
        "gerektiğini anlatıyor iyi bir çorbanın zaman tuz ve biraz sabır "
        "istediğini ve kimsenin balığı gereğinden uzun pişirmemesi "
        "gerektiğini söylüyor yumurta domates ve bir torba pirinç aldık\n"
        "pazartesi günü ofis yoğundu çünkü yeni proje başlamıştı ve "
        "herkes toplantıdan önce raporu okumak istiyordu şehre giden tren "
        "çantalı ve telefonlu insanlarla doluydu ve pencereden gri "
        "gökyüzünün altında fabrikalar köprüler ve uzun ev sıraları "
        "görünüyordu iş geç bitti ama sokaklar hala aydınlıktı"
    ),
    "id": (
        "rubah coklat yang cepat melompati anjing yang malas sementara "
        "anak anak menonton dari kebun dan ibu mereka membawa roti segar "
        "dengan mentega dan madu karena cahaya pagi membuat segalanya "
        "terasa mungkin dan jam tua di dinding terus menghitung jam yang "
        "kita habiskan bersama membaca cerita tentang gunung yang jauh\n"
        "di pasar para petani menjual apel bawang dan keju dan tukang "
        "roti menjelaskan berapa lama adonan harus istirahat sebelum "
        "masuk ke oven panas dia berkata bahwa sup yang baik membutuhkan "
        "waktu garam dan sedikit kesabaran dan tidak ada yang boleh "
        "memasak ikan lebih lama dari yang diperlukan kami membeli telur "
        "tomat dan sekarung beras untuk satu minggu\n"
        "kantor sibuk pada hari senin karena proyek baru sudah dimulai "
        "dan semua orang ingin membaca laporan sebelum rapat kereta ke "
        "kota penuh dengan orang yang membawa tas dan telepon dan dari "
        "jendela terlihat pabrik jembatan dan deretan rumah yang panjang "
        "di bawah langit abu abu pekerjaan selesai larut malam tetapi "
        "jalan jalan masih terang oleh lampu dan musik dari pintu terbuka"
    ),
    "sw": (
        "mbweha mwepesi wa kahawia anaruka juu ya mbwa mvivu wakati "
        "watoto wanatazama kutoka bustanini na mama yao analeta mkate "
        "safi na siagi na asali kwa sababu mwanga wa asubuhi unafanya "
        "kila kitu kionekane kinawezekana na saa ya zamani ukutani "
        "inaendelea kuhesabu masaa tunayotumia pamoja tukisoma hadithi "
        "za milima ya mbali\n"
        "sokoni wakulima wanauza matufaha vitunguu na jibini na mwokaji "
        "anaeleza muda gani unga lazima upumzike kabla ya kuingia kwenye "
        "tanuri moto anasema kwamba supu nzuri inahitaji muda chumvi na "
        "uvumilivu kidogo na kwamba hakuna mtu anayepaswa kupika samaki "
        "zaidi ya inavyohitajika tulinunua mayai nyanya na mchele\n"
        "ofisi ilikuwa na kazi nyingi siku ya jumatatu kwa sababu mradi "
        "mpya ulikuwa umeanza na kila mtu alitaka kusoma ripoti kabla ya "
        "mkutano treni ya kwenda mjini ilijaa watu wenye mifuko na simu "
        "na kupitia dirisha uliona viwanda madaraja na safu ndefu za "
        "nyumba chini ya anga la kijivu kazi iliisha usiku lakini "
        "barabara bado zilikuwa na mwanga wa taa na muziki"
    ),
    "ru": (
        "быстрая коричневая лиса прыгает через ленивую собаку пока дети "
        "смотрят из сада а их мать приносит свежий хлеб с маслом и мёдом "
        "потому что утренний свет делает всё возможным и старые часы на "
        "стене продолжают считать часы которые мы проводим вместе читая "
        "истории о далёких горах и людях которые ищут там тихое место\n"
        "на рынке крестьяне продают яблоки лук и сыр а пекарь объясняет "
        "сколько времени тесто должно отдыхать прежде чем попасть в "
        "горячую печь она говорит что хороший суп требует времени соли и "
        "немного терпения и что никто не должен варить рыбу дольше чем "
        "нужно мы купили яйца помидоры и мешок риса на всю неделю\n"
        "в понедельник в офисе было много работы потому что начался "
        "новый проект и все хотели прочитать отчёт перед собранием поезд "
        "в город был полон людей с сумками и телефонами а из окна были "
        "видны заводы мосты и длинные ряды домов под серым небом работа "
        "закончилась поздно но улицы ещё были светлыми от ламп и музыки"
    ),
    "el": (
        "η γρήγορη καφέ αλεπού πηδά πάνω από τον τεμπέλη σκύλο ενώ τα "
        "παιδιά κοιτάζουν από τον κήπο και η μητέρα τους φέρνει φρέσκο "
        "ψωμί με βούτυρο και μέλι επειδή το πρωινό φως κάνει τα πάντα να "
        "φαίνονται δυνατά και το παλιό ρολόι στον τοίχο συνεχίζει να "
        "μετρά τις ώρες που περνάμε μαζί διαβάζοντας ιστορίες για μακρινά "
        "βουνά και τους ανθρώπους που ψάχνουν εκεί ένα ήσυχο μέρος\n"
        "στην αγορά οι αγρότες πουλάνε μήλα κρεμμύδια και τυρί και ο "
        "φούρναρης εξηγεί πόση ώρα πρέπει να ξεκουραστεί η ζύμη πριν μπει "
        "στον ζεστό φούρνο λέει ότι μια καλή σούπα χρειάζεται χρόνο "
        "αλάτι και λίγη υπομονή και ότι κανείς δεν πρέπει να βράζει το "
        "ψάρι περισσότερο από όσο χρειάζεται αγοράσαμε αυγά ντομάτες και ρύζι\n"
        "το γραφείο είχε πολλή δουλειά τη δευτέρα επειδή είχε αρχίσει το "
        "νέο έργο και όλοι ήθελαν να διαβάσουν την αναφορά πριν από τη "
        "συνάντηση το τρένο για την πόλη ήταν γεμάτο ανθρώπους με τσάντες "
        "και τηλέφωνα και από το παράθυρο φαίνονταν εργοστάσια γέφυρες "
        "και μακριές σειρές σπιτιών κάτω από γκρίζο ουρανό"
    ),
    "ar": (
        "يقفز الثعلب البني السريع فوق الكلب الكسول بينما يشاهد الأطفال من "
        "الحديقة وتحضر أمهم خبزا طازجا مع الزبدة والعسل لأن ضوء الصباح "
        "يجعل كل شيء يبدو ممكنا والساعة القديمة على الحائط تواصل عد "
        "الساعات التي نقضيها معا في قراءة قصص عن جبال بعيدة وعن الناس "
        "الذين يبحثون هناك عن مكان هادئ\n"
        "في السوق يبيع الفلاحون التفاح والبصل والجبن ويشرح الخباز كم من "
        "الوقت يجب أن تستريح العجينة قبل أن تدخل الفرن الساخن تقول إن "
        "الحساء الجيد يحتاج إلى وقت وملح وقليل من الصبر وإن أحدا لا يجب "
        "أن يطبخ السمك أكثر من اللازم اشترينا بيضا وطماطم وكيسا من الأرز\n"
        "كان المكتب مزدحما يوم الاثنين لأن المشروع الجديد قد بدأ وأراد "
        "الجميع قراءة التقرير قبل الاجتماع كان القطار إلى المدينة مليئا "
        "بالناس الذين يحملون الحقائب والهواتف ومن النافذة كانت تظهر "
        "المصانع والجسور وصفوف طويلة من البيوت تحت سماء رمادية انتهى "
        "العمل متأخرا لكن الشوارع ظلت مضيئة بالمصابيح والموسيقى"
    ),
    "hi": (
        "तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर से कूदती है जबकि बच्चे बगीचे "
        "से देखते हैं और उनकी मां मक्खन और शहद के साथ ताजा रोटी लाती है "
        "क्योंकि सुबह की रोशनी सब कुछ संभव बना देती है और दीवार पर पुरानी "
        "घड़ी उन घंटों को गिनती रहती है जो हम साथ बिताते हैं दूर के "
        "पहाड़ों की कहानियां पढ़ते हुए\n"
        "बाजार में किसान सेब प्याज और पनीर बेचते हैं और नानबाई बताता है "
        "कि आटे को गरम भट्टी में जाने से पहले कितनी देर आराम करना चाहिए "
        "वह कहती है कि अच्छे सूप के लिए समय नमक और थोड़ा धैर्य चाहिए और "
        "किसी को मछली जरूरत से ज्यादा नहीं पकानी चाहिए हमने अंडे टमाटर "
        "और एक बोरी चावल खरीदा\n"
        "सोमवार को दफ्तर में बहुत काम था क्योंकि नई परियोजना शुरू हो गई "
        "थी और सब लोग बैठक से पहले रिपोर्ट पढ़ना चाहते थे शहर जाने वाली "
        "रेलगाड़ी थैलों और फोनों वाले लोगों से भरी थी और खिड़की से धूसर "
        "आकाश के नीचे कारखाने पुल और घरों की लंबी कतारें दिखाई देती थीं "
        "काम देर से खत्म हुआ लेकिन सड़कें अब भी रोशनी से भरी थीं"
    ),
    "ja": (
        "すばやい茶色の狐が怠け者の犬の上を飛び越える間に子供たちは庭から"
        "眺めていて母親はバターと蜂蜜を添えた焼きたてのパンを運んでくる朝の"
        "光がすべてを可能に見せるからだ壁の古い時計は私たちが遠い山々の"
        "物語を読みながら一緒に過ごす時間を数え続けている\n"
        "市場では農家がりんごと玉ねぎとチーズを売っていてパン職人は生地が"
        "熱い窯に入る前にどれだけ休ませるべきかを説明している彼女は良い"
        "スープには時間と塩と少しの忍耐が必要で魚を必要以上に煮てはいけ"
        "ないと言う私たちは卵とトマトと一週間分の米を買った\n"
        "月曜日の事務所は新しい計画が始まったので忙しくみんな会議の前に"
        "報告書を読みたがっていた街へ向かう電車は鞄と電話を持つ人々で"
        "混み合い窓からは灰色の空の下に工場と橋と長く続く家並みが見えた"
        "仕事は遅くに終わったが通りはまだ明かりと開いた扉からの音楽で"
        "明るかった"
    ),
    "zh": (
        "敏捷的棕色狐狸跳过懒惰的狗孩子们从花园里看着母亲端来涂了黄油和"
        "蜂蜜的新鲜面包因为清晨的光让一切看起来都有可能墙上的旧钟继续数着"
        "我们一起度过的时光我们读着关于远方群山的故事和在那里寻找安静地方"
        "的人们\n"
        "在市场上农民出售苹果洋葱和奶酪面包师解释面团在进入热炉之前需要"
        "醒多久她说好汤需要时间盐和一点耐心谁也不应该把鱼煮得超过必要的"
        "时间我们买了鸡蛋西红柿和一袋够吃一周的大米\n"
        "星期一办公室很忙因为新项目开始了大家都想在开会之前读完报告开往"
        "城里的火车挤满了带着包和电话的人从窗户望出去可以看到灰色天空下的"
        "工厂桥梁和一排排长长的房子工作结束得很晚但街道仍然被灯光和敞开的"
        "门里传出的音乐照得明亮"
    ),
    # round 4 breadth: +8 languages toward the reference's 70+, chosen to
    # include the CONFUSABLE families that make breadth hard — uk/bg vs ru
    # (Cyrillic), sk vs cs, ca vs es/fr — plus three new scripts (ko/th/he)
    # and diacritic-dense Latin (vi). Same three-topic structure.
    "ko": (
        "아침 햇살이 마을 위로 떠오르고 아이들은 마당에서 뛰어놀며 "
        "어머니는 갓 구운 빵과 버터와 꿀을 가져온다 벽에 걸린 오래된 "
        "시계는 우리가 함께 보내는 시간을 세고 있고 우리는 먼 산과 "
        "그곳에서 조용한 곳을 찾아 걷는 사람들의 이야기를 읽는다\n"
        "시장에서 농부들은 사과와 양파와 치즈를 팔고 빵집 주인은 반죽이 "
        "뜨거운 화덕에 들어가기 전에 얼마나 오래 쉬어야 하는지 설명한다 "
        "좋은 국은 시간과 소금과 약간의 인내가 필요하다고 그녀는 말하고 "
        "생선은 필요 이상으로 오래 끓이면 안 된다 우리는 일주일 동안 "
        "먹을 달걀과 토마토와 쌀 한 포대를 샀다\n"
        "월요일에 사무실은 새 프로젝트가 시작되어 바빴고 모두가 회의 "
        "전에 보고서를 읽고 싶어 했다 도시로 가는 기차는 가방과 전화기를 "
        "든 사람들로 가득했고 창밖으로 회색 하늘 아래 공장과 다리와 "
        "늘어선 집들이 보였다 일은 늦게 끝났지만 거리는 아직 등불과 "
        "열린 문에서 나오는 음악으로 밝았다"
    ),
    "th": (
        "แสงยามเช้าขึ้นเหนือหมู่บ้านและเด็กๆวิ่งเล่นอยู่ในสวนขณะที่แม่นำขนมปังอบใหม่"
        "กับเนยและน้ำผึ้งมาให้นาฬิกาเก่าบนผนังยังคงนับชั่วโมงที่เราใช้เวลาร่วมกัน"
        "อ่านเรื่องราวของภูเขาไกลโพ้นและผู้คนที่เดินผ่านเพื่อหาที่เงียบสงบ\n"
        "ที่ตลาดชาวนาขายแอปเปิ้ลหัวหอมและเนยแข็งคนทำขนมปังอธิบายว่าแป้งต้องพัก"
        "นานเท่าไรก่อนเข้าเตาอบร้อนเธอบอกว่าซุปที่ดีต้องใช้เวลาเกลือและความอดทน"
        "เล็กน้อยและไม่ควรต้มปลานานเกินจำเป็นเราซื้อไข่มะเขือเทศและข้าวสารหนึ่งถุง"
        "สำหรับสัปดาห์นี้\n"
        "วันจันทร์ที่ทำงานวุ่นวายเพราะโครงการใหม่เริ่มขึ้นและทุกคนอยากอ่านรายงาน"
        "ก่อนการประชุมรถไฟเข้าเมืองเต็มไปด้วยผู้คนถือกระเป๋าและโทรศัพท์มองออกไป"
        "นอกหน้าต่างเห็นโรงงานสะพานและบ้านเรียงแถวใต้ท้องฟ้าสีเทางานเลิกดึกแต่ถนน"
        "ยังสว่างด้วยแสงไฟและเสียงดนตรีจากประตูที่เปิดอยู่"
    ),
    "he": (
        "אור הבוקר עולה מעל הכפר והילדים משחקים בגינה בזמן שאמם מביאה "
        "לחם טרי עם חמאה ודבש השעון הישן על הקיר ממשיך לספור את השעות "
        "שאנחנו מבלים יחד וקוראים סיפורים על הרים רחוקים ועל אנשים "
        "שהולכים בהם ומחפשים מקום שקט\n"
        "בשוק האיכרים מוכרים תפוחים בצל וגבינה והאופה מסביר כמה זמן "
        "הבצק צריך לנוח לפני שהוא נכנס לתנור החם היא אומרת שמרק טוב "
        "צריך זמן מלח וקצת סבלנות ושאסור לבשל דג יותר זמן מהנדרש קנינו "
        "ביצים עגבניות ושק אורז לשבוע\n"
        "ביום שני המשרד היה עמוס כי הפרויקט החדש התחיל וכולם רצו לקרוא "
        "את הדוח לפני הישיבה הרכבת לעיר הייתה מלאה באנשים עם תיקים "
        "וטלפונים ומבעד לחלון ראינו מפעלים גשרים ושורות ארוכות של בתים "
        "תחת שמים אפורים העבודה נגמרה מאוחר אבל הרחובות עוד היו מוארים "
        "במנורות ומוזיקה מדלתות פתוחות"
    ),
    "uk": (
        "ранкове світло сходить над селом і діти граються в саду поки "
        "мати несе свіжий хліб з маслом і медом старий годинник на стіні "
        "далі рахує години які ми проводимо разом читаючи історії про "
        "далекі гори і людей що йдуть ними шукаючи тихе місце\n"
        "на ринку селяни продають яблука цибулю і сир а пекар пояснює "
        "скільки тісто має відпочивати перш ніж потрапити в гарячу піч "
        "вона каже що добрий суп потребує часу солі і трохи терпіння і "
        "що рибу не слід варити довше ніж потрібно ми купили яйця "
        "помідори і мішок рису на тиждень\n"
        "у понеділок у конторі було людно бо почався новий проект і всі "
        "хотіли прочитати звіт перед нарадою потяг до міста був повний "
        "людей із сумками й телефонами крізь вікно було видно заводи "
        "мости й довгі ряди будинків під сірим небом робота закінчилася "
        "пізно але вулиці ще світилися ліхтарями й музикою з відчинених "
        "дверей"
    ),
    "bg": (
        "утринната светлина изгрява над селото и децата играят в "
        "градината докато майка им носи пресен хляб с масло и мед "
        "старият часовник на стената продължава да брои часовете които "
        "прекарваме заедно четейки истории за далечни планини и за "
        "хората които вървят през тях и търсят тихо място\n"
        "на пазара селяните продават ябълки лук и сирене а хлебарят "
        "обяснява колко време тестото трябва да почива преди да влезе в "
        "горещата пещ тя казва че добрата супа има нужда от време сол и "
        "малко търпение и че рибата не бива да се вари по дълго от "
        "необходимото купихме яйца домати и чувал ориз за седмицата\n"
        "в понеделник в кантората беше оживено защото новият проект беше "
        "започнал и всички искаха да прочетат доклада преди събранието "
        "влакът за града беше пълен с хора с чанти и телефони през "
        "прозореца се виждаха заводи мостове и дълги редици къщи под "
        "сиво небе работата свърши късно но улиците още светеха от лампи "
        "и музика от отворените врати"
    ),
    "vi": (
        "ánh sáng buổi sớm lên trên ngôi làng và lũ trẻ chơi trong vườn "
        "trong khi mẹ mang bánh mì mới với bơ và mật ong chiếc đồng hồ "
        "cũ trên tường vẫn đếm những giờ chúng ta ở bên nhau đọc truyện "
        "về những ngọn núi xa và những người đi qua đó tìm một nơi yên "
        "tĩnh\n"
        "ở chợ nông dân bán táo hành và phô mai người thợ bánh giải "
        "thích bột phải nghỉ bao lâu trước khi vào lò nóng bà nói rằng "
        "một nồi canh ngon cần thời gian muối và một chút kiên nhẫn và "
        "không nên nấu cá lâu hơn cần thiết chúng tôi mua trứng cà chua "
        "và một bao gạo cho cả tuần\n"
        "sáng thứ hai văn phòng bận rộn vì dự án mới đã bắt đầu và mọi "
        "người muốn đọc báo cáo trước cuộc họp chuyến tàu vào thành phố "
        "đầy người mang túi và điện thoại qua cửa sổ có thể thấy nhà "
        "máy cầu và những dãy nhà dài dưới bầu trời xám công việc kết "
        "thúc muộn nhưng đường phố vẫn sáng đèn và tiếng nhạc từ những "
        "cánh cửa mở"
    ),
    "ca": (
        "la llum del matí surt sobre el poble i els nens juguen al "
        "jardí mentre la mare porta pa acabat de fer amb mantega i mel "
        "el vell rellotge de la paret continua comptant les hores que "
        "passem junts llegint històries sobre muntanyes llunyanes i "
        "sobre la gent que hi camina buscant un lloc tranquil\n"
        "al mercat els pagesos venen pomes cebes i formatge i el forner "
        "explica quant de temps ha de reposar la massa abans d entrar "
        "al forn calent ella diu que una bona sopa necessita temps sal "
        "i una mica de paciència i que no s ha de coure el peix més del "
        "necessari vam comprar ous tomàquets i un sac d arròs per a la "
        "setmana\n"
        "dilluns el despatx anava ple de feina perquè el nou projecte "
        "havia començat i tothom volia llegir l informe abans de la "
        "reunió el tren cap a la ciutat anava ple de gent amb bosses i "
        "telèfons per la finestra es veien fàbriques ponts i llargues "
        "fileres de cases sota un cel gris la feina va acabar tard però "
        "els carrers encara eren plens de llums i de música de les "
        "portes obertes"
    ),
    "sk": (
        "ranné svetlo vychádza nad dedinou a deti sa hrajú v záhrade "
        "zatiaľ čo mama prináša čerstvý chlieb s maslom a medom staré "
        "hodiny na stene ďalej počítajú hodiny ktoré trávime spolu "
        "čítaním príbehov o ďalekých horách a o ľuďoch ktorí nimi "
        "kráčajú a hľadajú tiché miesto\n"
        "na trhu roľníci predávajú jablká cibuľu a syr a pekár "
        "vysvetľuje ako dlho musí cesto odpočívať kým pôjde do horúcej "
        "pece hovorí že dobrá polievka potrebuje čas soľ a trochu "
        "trpezlivosti a že rybu netreba variť dlhšie než je potrebné "
        "kúpili sme vajcia paradajky a vrece ryže na týždeň\n"
        "v pondelok bolo v kancelárii rušno lebo sa začal nový projekt "
        "a všetci si chceli prečítať správu pred poradou vlak do mesta "
        "bol plný ľudí s taškami a telefónmi cez okno bolo vidieť "
        "továrne mosty a dlhé rady domov pod sivou oblohou práca sa "
        "skončila neskoro ale ulice ešte svietili lampami a hudbou z "
        "otvorených dverí"
    ),
    # --- round-5 tranche: 16 further languages toward the reference's 70+
    # (fa/ur extend the Arabic-script family; sr/mk extend Cyrillic next to
    # ru/uk/bg; hr/sl/lt/lv/et/is/sq extend Latin-script Europe incl. the
    # et-vs-fi and hr-vs-sl-vs-cs confusable pairs; bn/ta/te/ka/hy add four
    # scripts the table did not cover) ---
    "fa": (
        "نور صبح بر روستا می تابد و کودکان در باغ بازی می کنند در حالی که "
        "مادرشان نان تازه با کره و عسل می آورد ساعت قدیمی روی دیوار "
        "همچنان ساعت هایی را می شمارد که با هم می گذرانیم و داستان هایی "
        "درباره کوه های دور می خوانیم و درباره مردمی که در آنها راه می "
        "روند و به دنبال جایی آرام می گردند\n"
        "در بازار کشاورزان سیب پیاز و پنیر می فروشند و نانوا توضیح می دهد "
        "که خمیر چقدر باید استراحت کند پیش از آنکه به تنور داغ برود او می "
        "گوید که آش خوب به زمان نمک و کمی صبر نیاز دارد و ماهی را نباید "
        "بیشتر از لازم پخت ما تخم مرغ گوجه فرنگی و یک کیسه برنج برای "
        "هفته خریدیم\n"
        "دوشنبه اداره شلوغ بود چون پروژه تازه آغاز شده بود و همه می "
        "خواستند گزارش را پیش از جلسه بخوانند قطار شهر پر از مردم با کیف "
        "و تلفن بود و از پنجره کارخانه ها پل ها و ردیف های بلند خانه ها "
        "زیر آسمان خاکستری دیده می شد کار دیر تمام شد اما خیابان ها هنوز "
        "از چراغ ها و موسیقی درهای باز روشن بودند"
    ),
    "ur": (
        "صبح کی روشنی گاؤں پر پھیلتی ہے اور بچے باغ میں کھیلتے ہیں جبکہ "
        "ان کی ماں مکھن اور شہد کے ساتھ تازہ روٹی لاتی ہے دیوار پر پرانی "
        "گھڑی وہ گھنٹے گنتی رہتی ہے جو ہم ساتھ گزارتے ہیں اور دور پہاڑوں "
        "کی کہانیاں پڑھتے ہیں اور ان لوگوں کے بارے میں جو ان میں چلتے "
        "ہیں اور ایک پرسکون جگہ ڈھونڈتے ہیں\n"
        "بازار میں کسان سیب پیاز اور پنیر بیچتے ہیں اور نانبائی بتاتا ہے "
        "کہ آٹے کو گرم تنور میں جانے سے پہلے کتنی دیر آرام کرنا چاہیے وہ "
        "کہتی ہے کہ اچھے شوربے کو وقت نمک اور تھوڑا صبر چاہیے اور مچھلی "
        "کو ضرورت سے زیادہ نہیں پکانا چاہیے ہم نے انڈے ٹماٹر اور ہفتے کے "
        "لیے چاول کی ایک بوری خریدی\n"
        "پیر کو دفتر میں بہت کام تھا کیونکہ نیا منصوبہ شروع ہوا تھا اور "
        "سب اجلاس سے پہلے رپورٹ پڑھنا چاہتے تھے شہر کی ریل گاڑی تھیلوں "
        "اور فونوں والے لوگوں سے بھری تھی اور کھڑکی سے کارخانے پل اور "
        "سرمئی آسمان کے نیچے گھروں کی لمبی قطاریں نظر آتی تھیں کام دیر "
        "سے ختم ہوا مگر گلیاں اب بھی چراغوں اور کھلے دروازوں کی موسیقی "
        "سے روشن تھیں"
    ),
    "bn": (
        "সকালের আলো গ্রামের উপর ছড়িয়ে পড়ে আর শিশুরা বাগানে খেলা করে "
        "যখন তাদের মা মাখন আর মধু দিয়ে টাটকা রুটি নিয়ে আসে দেয়ালের "
        "পুরনো ঘড়ি সেই ঘণ্টাগুলো গুনতে থাকে যা আমরা একসাথে কাটাই আর "
        "দূরের পাহাড়ের গল্প পড়ি আর সেই মানুষদের কথা যারা সেখানে হেঁটে "
        "একটি শান্ত জায়গা খোঁজে\n"
        "বাজারে চাষিরা আপেল পেঁয়াজ আর পনির বিক্রি করে আর রুটিওয়ালা "
        "বুঝিয়ে বলে গরম চুলায় যাওয়ার আগে ময়দাকে কতক্ষণ বিশ্রাম দিতে "
        "হয় সে বলে ভালো ঝোলের জন্য সময় লবণ আর একটু ধৈর্য লাগে আর "
        "মাছ দরকারের বেশি রান্না করা উচিত নয় আমরা ডিম টমেটো আর সপ্তাহের "
        "জন্য এক বস্তা চাল কিনলাম\n"
        "সোমবার অফিসে খুব ব্যস্ততা ছিল কারণ নতুন প্রকল্প শুরু হয়েছিল আর "
        "সবাই সভার আগে প্রতিবেদনটি পড়তে চাইছিল শহরের ট্রেন ব্যাগ আর ফোন "
        "হাতে মানুষে ভরা ছিল আর জানালা দিয়ে কারখানা সেতু আর ধূসর আকাশের "
        "নিচে বাড়ির লম্বা সারি দেখা যাচ্ছিল কাজ দেরিতে শেষ হলো কিন্তু "
        "রাস্তাগুলো তখনও বাতি আর খোলা দরজার গান দিয়ে উজ্জ্বল ছিল"
    ),
    "ta": (
        "காலை வெளிச்சம் கிராமத்தின் மேல் பரவுகிறது குழந்தைகள் தோட்டத்தில் "
        "விளையாடுகிறார்கள் அவர்களின் அம்மா வெண்ணெயும் தேனும் சேர்த்து "
        "புதிய ரொட்டி கொண்டு வருகிறாள் சுவரில் உள்ள பழைய கடிகாரம் நாம் "
        "ஒன்றாக கழிக்கும் மணி நேரங்களை எண்ணிக்கொண்டே இருக்கிறது தொலைவில் "
        "உள்ள மலைகளைப் பற்றிய கதைகளை படிக்கிறோம் அங்கே நடந்து அமைதியான "
        "இடம் தேடும் மக்களைப் பற்றியும்\n"
        "சந்தையில் விவசாயிகள் ஆப்பிள் வெங்காயம் பாலாடைக்கட்டி "
        "விற்கிறார்கள் ரொட்டிக்காரர் சூடான அடுப்பில் போகும் முன் மாவு "
        "எவ்வளவு நேரம் ஓய்வு எடுக்க வேண்டும் என விளக்குகிறார் நல்ல "
        "குழம்புக்கு நேரம் உப்பு கொஞ்சம் பொறுமை தேவை என்றும் மீனை "
        "தேவைக்கு மேல் சமைக்கக்கூடாது என்றும் சொல்கிறாள் நாங்கள் முட்டை "
        "தக்காளி வாரத்திற்கு ஒரு மூட்டை அரிசி வாங்கினோம்\n"
        "திங்கள் அன்று அலுவலகம் பரபரப்பாக இருந்தது புதிய திட்டம் "
        "தொடங்கியதால் கூட்டத்திற்கு முன் அனைவரும் அறிக்கையை படிக்க "
        "விரும்பினர் நகரத்திற்கு செல்லும் ரயில் பைகளும் தொலைபேசிகளும் "
        "கொண்ட மக்களால் நிறைந்திருந்தது ஜன்னல் வழியாக தொழிற்சாலைகள் "
        "பாலங்கள் சாம்பல் வானத்தின் கீழ் வீடுகளின் நீண்ட வரிசைகள் "
        "தெரிந்தன வேலை தாமதமாக முடிந்தது ஆனால் தெருக்கள் விளக்குகளாலும் "
        "திறந்த கதவுகளின் இசையாலும் இன்னும் பிரகாசமாக இருந்தன"
    ),
    "te": (
        "ఉదయపు వెలుగు పల్లె మీద పరుచుకుంటుంది పిల్లలు తోటలో ఆడుకుంటారు "
        "వారి అమ్మ వెన్న తేనెతో తాజా రొట్టె తీసుకువస్తుంది గోడ మీద పాత "
        "గడియారం మనం కలిసి గడిపే గంటలను లెక్కిస్తూనే ఉంటుంది దూరపు కొండల "
        "గురించి కథలు చదువుతాము అక్కడ నడుస్తూ ప్రశాంతమైన చోటు వెతికే "
        "మనుషుల గురించి కూడా\n"
        "సంతలో రైతులు ఆపిల్ ఉల్లిపాయలు జున్ను అమ్ముతారు రొట్టెల "
        "వ్యాపారి వేడి పొయ్యిలోకి వెళ్ళే ముందు పిండి ఎంతసేపు విశ్రాంతి "
        "తీసుకోవాలో వివరిస్తాడు మంచి పులుసుకు సమయం ఉప్పు కొంచెం ఓపిక "
        "కావాలని చేపను అవసరానికి మించి వండకూడదని ఆమె చెబుతుంది మేము "
        "గుడ్లు టమాటాలు వారానికి ఒక సంచి బియ్యం కొన్నాము\n"
        "సోమవారం కార్యాలయం బిజీగా ఉంది కొత్త ప్రాజెక్టు మొదలైనందున "
        "సమావేశానికి ముందు అందరూ నివేదికను చదవాలనుకున్నారు నగరానికి "
        "వెళ్ళే రైలు సంచులు ఫోన్లు పట్టుకున్న జనంతో నిండి ఉంది కిటికీ "
        "నుంచి కర్మాగారాలు వంతెనలు బూడిద ఆకాశం కింద ఇళ్ల పొడవైన వరుసలు "
        "కనిపించాయి పని ఆలస్యంగా ముగిసింది కానీ వీధులు దీపాలతో తెరిచిన "
        "తలుపుల సంగీతంతో ఇంకా వెలుగుతూనే ఉన్నాయి"
    ),
    "ka": (
        "დილის სინათლე სოფელს ეფინება და ბავშვები ბაღში თამაშობენ სანამ "
        "დედა კარაქითა და თაფლით ახალ პურს მოაქვს კედელზე ძველი საათი "
        "აგრძელებს იმ საათების თვლას რომლებსაც ერთად ვატარებთ და "
        "ვკითხულობთ ამბებს შორეულ მთებზე და იმ ადამიანებზე რომლებიც იქ "
        "დადიან და მშვიდ ადგილს ეძებენ\n"
        "ბაზარში გლეხები ყიდიან ვაშლს ხახვს და ყველს მეპურე განმარტავს "
        "რამდენ ხანს უნდა დაისვენოს ცომმა სანამ ცხელ ღუმელში შევა ის "
        "ამბობს რომ კარგ წვნიანს სჭირდება დრო მარილი და ცოტა მოთმინება "
        "და თევზი საჭიროზე მეტხანს არ უნდა მოიხარშოს ვიყიდეთ კვერცხი "
        "პომიდორი და ერთი ტომარა ბრინჯი კვირისთვის\n"
        "ორშაბათს ოფისში ბევრი საქმე იყო რადგან ახალი პროექტი დაიწყო და "
        "ყველას სურდა ანგარიშის წაკითხვა შეხვედრამდე ქალაქის მატარებელი "
        "სავსე იყო ხალხით ჩანთებითა და ტელეფონებით ფანჯრიდან ჩანდა "
        "ქარხნები ხიდები და სახლების გრძელი რიგები ნაცრისფერი ცის ქვეშ "
        "სამუშაო გვიან დასრულდა მაგრამ ქუჩები ჯერ კიდევ ანათებდა "
        "ფარნებითა და ღია კარების მუსიკით"
    ),
    "hy": (
        "առավոտյան լույսը տարածվում է գյուղի վրա և երեխաները խաղում են "
        "այգում մինչ նրանց մայրը բերում է թարմ հաց կարագով և մեղրով "
        "պատի հին ժամացույցը շարունակում է հաշվել այն ժամերը որ միասին "
        "ենք անցկացնում և կարդում ենք պատմություններ հեռավոր լեռների "
        "մասին և այն մարդկանց մասին ովքեր քայլում են այնտեղ և փնտրում "
        "են մի հանգիստ տեղ\n"
        "շուկայում գյուղացիները վաճառում են խնձոր սոխ և պանիր հացթուխը "
        "բացատրում է թե որքան պետք է հանգստանա խմորը մինչ տաք վառարան "
        "մտնելը նա ասում է որ լավ ապուրին պետք է ժամանակ աղ և մի քիչ "
        "համբերություն և որ ձուկը պետք չէ եփել ավելի երկար քան հարկավոր "
        "է մենք գնեցինք ձու լոլիկ և մի պարկ բրինձ շաբաթվա համար\n"
        "երկուշաբթի գրասենյակում շատ աշխատանք կար որովհետև նոր ծրագիրը "
        "սկսվել էր և բոլորը ուզում էին կարդալ զեկույցը ժողովից առաջ "
        "քաղաք գնացող գնացքը լի էր մարդկանցով պայուսակներով և "
        "հեռախոսներով պատուհանից երևում էին գործարաններ կամուրջներ և "
        "տների երկար շարքեր մոխրագույն երկնքի տակ աշխատանքը ուշ "
        "ավարտվեց բայց փողոցները դեռ լուսավոր էին լապտերներով և բաց "
        "դռների երաժշտությամբ"
    ),
    "sr": (
        "јутарња светлост се шири над селом и деца се играју у башти док "
        "њихова мајка доноси свеж хлеб са маслацем и медом стари сат на "
        "зиду и даље броји сате које проводимо заједно читајући приче о "
        "далеким планинама и о људима који њима ходају тражећи тихо "
        "место\n"
        "на пијаци сељаци продају јабуке лук и сир а пекар објашњава "
        "колико тесто мора да одмара пре него што уђе у врућу пећ она "
        "каже да доброј супи треба време со и мало стрпљења и да рибу не "
        "треба кувати дуже него што је потребно купили смо јаја парадајз "
        "и врећу пиринча за недељу дана\n"
        "у понедељак је у канцеларији било много посла јер је нови "
        "пројекат почео и сви су хтели да прочитају извештај пре "
        "састанка воз за град био је пун људи са торбама и телефонима "
        "кроз прозор су се видели фабрике мостови и дуги редови кућа под "
        "сивим небом посао се завршио касно али су улице још увек биле "
        "светле од лампи и музике из отворених врата"
    ),
    "mk": (
        "утринската светлина се шири над селото и децата си играат во "
        "градината додека нивната мајка носи свеж леб со путер и мед "
        "стариот часовник на ѕидот продолжува да ги брои часовите што ги "
        "поминуваме заедно читајќи приказни за далечните планини и за "
        "луѓето што одат низ нив барајќи тивко место\n"
        "на пазарот селаните продаваат јаболка кромид и сирење а пекарот "
        "објаснува колку тестото мора да одмора пред да влезе во жешката "
        "печка таа вели дека на добрата супа ѝ требаат време сол и малку "
        "трпение и дека рибата не треба да се вари подолго отколку што е "
        "потребно купивме јајца домати и вреќа ориз за седмицата\n"
        "во понеделник во канцеларијата имаше многу работа бидејќи "
        "новиот проект беше почнат и сите сакаа да го прочитаат "
        "извештајот пред состанокот возот за градот беше полн со луѓе со "
        "торби и телефони низ прозорецот се гледаа фабрики мостови и "
        "долги редови куќи под сивото небо работата заврши доцна но "
        "улиците сè уште светеа од светилки и музика од отворените врати"
    ),
    "hr": (
        "jutarnje svjetlo širi se nad selom i djeca se igraju u vrtu dok "
        "njihova majka donosi svjež kruh s maslacem i medom stari sat na "
        "zidu i dalje broji sate koje provodimo zajedno čitajući priče o "
        "dalekim planinama i o ljudima koji njima hodaju tražeći tiho "
        "mjesto\n"
        "na tržnici seljaci prodaju jabuke luk i sir a pekar objašnjava "
        "koliko tijesto mora odmarati prije nego što uđe u vruću peć ona "
        "kaže da dobroj juhi treba vrijeme sol i malo strpljenja i da "
        "ribu ne treba kuhati dulje nego što je potrebno kupili smo jaja "
        "rajčice i vreću riže za tjedan dana\n"
        "u ponedjeljak je u uredu bilo mnogo posla jer je novi projekt "
        "počeo i svi su htjeli pročitati izvještaj prije sastanka vlak "
        "za grad bio je pun ljudi s torbama i telefonima kroz prozor su "
        "se vidjele tvornice mostovi i dugi redovi kuća pod sivim nebom "
        "posao je završio kasno ali ulice su još uvijek bile svijetle od "
        "svjetiljki i glazbe iz otvorenih vrata"
    ),
    "sl": (
        "jutranja svetloba se širi nad vasjo in otroci se igrajo na vrtu "
        "medtem ko njihova mama prinaša svež kruh z maslom in medom "
        "stara ura na steni še naprej šteje ure ki jih preživimo skupaj "
        "ko beremo zgodbe o daljnih gorah in o ljudeh ki hodijo po njih "
        "in iščejo miren kraj\n"
        "na tržnici kmetje prodajajo jabolka čebulo in sir pek pa "
        "razlaga kako dolgo mora testo počivati preden gre v vročo peč "
        "pravi da dobra juha potrebuje čas sol in malo potrpljenja in da "
        "ribe ni treba kuhati dlje kot je potrebno kupili smo jajca "
        "paradižnike in vrečo riža za teden dni\n"
        "v ponedeljek je bilo v pisarni veliko dela ker se je novi "
        "projekt začel in so vsi želeli prebrati poročilo pred sestankom "
        "vlak v mesto je bil poln ljudi s torbami in telefoni skozi okno "
        "so se videle tovarne mostovi in dolge vrste hiš pod sivim nebom "
        "delo se je končalo pozno a ulice so bile še vedno svetle od "
        "svetilk in glasbe iz odprtih vrat"
    ),
    "lt": (
        "ryto šviesa sklinda virš kaimo ir vaikai žaidžia sode kol jų "
        "mama atneša šviežios duonos su sviestu ir medumi senas "
        "laikrodis ant sienos toliau skaičiuoja valandas kurias "
        "praleidžiame kartu skaitydami istorijas apie tolimus kalnus ir "
        "apie žmones kurie jais vaikšto ieškodami ramios vietos\n"
        "turguje ūkininkai parduoda obuolius svogūnus ir sūrį o kepėjas "
        "aiškina kiek tešla turi pailsėti prieš patenkant į karštą "
        "krosnį ji sako kad gerai sriubai reikia laiko druskos ir šiek "
        "tiek kantrybės ir kad žuvies nereikia virti ilgiau nei būtina "
        "nusipirkome kiaušinių pomidorų ir maišą ryžių savaitei\n"
        "pirmadienį biure buvo daug darbo nes prasidėjo naujas projektas "
        "ir visi norėjo perskaityti ataskaitą prieš susirinkimą "
        "traukinys į miestą buvo pilnas žmonių su krepšiais ir "
        "telefonais pro langą matėsi gamyklos tiltai ir ilgos namų eilės "
        "po pilku dangumi darbas baigėsi vėlai bet gatvės vis dar buvo "
        "šviesios nuo žibintų ir muzikos iš atvirų durų"
    ),
    "lv": (
        "rīta gaisma izplatās pār ciemu un bērni spēlējas dārzā kamēr "
        "viņu māte atnes svaigu maizi ar sviestu un medu vecais "
        "pulkstenis pie sienas turpina skaitīt stundas ko pavadām kopā "
        "lasot stāstus par tālajiem kalniem un par cilvēkiem kuri pa "
        "tiem staigā meklējot klusu vietu\n"
        "tirgū zemnieki pārdod ābolus sīpolus un sieru un maiznieks "
        "skaidro cik ilgi mīklai jāatpūšas pirms tā nonāk karstā krāsnī "
        "viņa saka ka labai zupai vajag laiku sāli un mazliet pacietības "
        "un ka zivi nevajag vārīt ilgāk nekā nepieciešams mēs nopirkām "
        "olas tomātus un maisu rīsu nedēļai\n"
        "pirmdien birojā bija daudz darba jo bija sācies jauns projekts "
        "un visi gribēja izlasīt ziņojumu pirms sapulces vilciens uz "
        "pilsētu bija pilns ar cilvēkiem ar somām un telefoniem pa logu "
        "varēja redzēt rūpnīcas tiltus un garas māju rindas zem pelēkām "
        "debesīm darbs beidzās vēlu bet ielas joprojām bija gaišas no "
        "laternām un mūzikas no atvērtām durvīm"
    ),
    "et": (
        "hommikuvalgus levib küla kohal ja lapsed mängivad aias sel ajal "
        "kui nende ema toob värsket leiba või ja meega vana kell seinal "
        "loeb edasi tunde mida me koos veedame lugedes lugusid kaugetest "
        "mägedest ja inimestest kes seal kõnnivad otsides vaikset kohta\n"
        "turul müüvad talupojad õunu sibulaid ja juustu ning pagar "
        "selgitab kui kaua peab tainas puhkama enne kui see kuuma ahju "
        "läheb ta ütleb et hea supp vajab aega soola ja veidi "
        "kannatlikkust ja et kala ei tohi keeta kauem kui vaja ostsime "
        "mune tomateid ja koti riisi nädalaks\n"
        "esmaspäeval oli kontoris palju tööd sest uus projekt oli alanud "
        "ja kõik tahtsid aruannet enne koosolekut lugeda rong linna oli "
        "täis inimesi kottide ja telefonidega aknast paistsid tehased "
        "sillad ja pikad majaread halli taeva all töö lõppes hilja aga "
        "tänavad olid ikka veel valged laternatest ja muusikast mis "
        "kostis avatud ustest"
    ),
    "is": (
        "morgunljósið breiðist yfir þorpið og börnin leika sér í "
        "garðinum á meðan móðir þeirra kemur með ferskt brauð með smjöri "
        "og hunangi gamla klukkan á veggnum heldur áfram að telja "
        "stundirnar sem við eyðum saman við að lesa sögur um fjarlæg "
        "fjöll og um fólkið sem gengur um þau í leit að rólegum stað\n"
        "á markaðnum selja bændur epli lauk og ost og bakarinn útskýrir "
        "hve lengi deigið þarf að hvíla áður en það fer í heitan ofninn "
        "hún segir að góð súpa þurfi tíma salt og svolitla þolinmæði og "
        "að fisk eigi ekki að sjóða lengur en nauðsynlegt er við keyptum "
        "egg tómata og poka af hrísgrjónum fyrir vikuna\n"
        "á mánudaginn var mikið að gera á skrifstofunni því nýja "
        "verkefnið var hafið og allir vildu lesa skýrsluna fyrir fundinn "
        "lestin í bæinn var full af fólki með töskur og síma út um "
        "gluggann sáust verksmiðjur brýr og langar raðir húsa undir "
        "gráum himni vinnan endaði seint en göturnar voru enn bjartar af "
        "ljósum og tónlist úr opnum dyrum"
    ),
    "sq": (
        "drita e mëngjesit përhapet mbi fshat dhe fëmijët luajnë në "
        "kopsht ndërsa nëna e tyre sjell bukë të freskët me gjalpë dhe "
        "mjaltë ora e vjetër në mur vazhdon të numërojë orët që kalojmë "
        "së bashku duke lexuar tregime për malet e largëta dhe për "
        "njerëzit që ecin nëpër to duke kërkuar një vend të qetë\n"
        "në treg fshatarët shesin mollë qepë dhe djathë dhe bukëpjekësi "
        "shpjegon sa gjatë duhet të pushojë brumi para se të hyjë në "
        "furrën e nxehtë ajo thotë se supës së mirë i duhet kohë kripë "
        "dhe pak durim dhe se peshku nuk duhet zier më gjatë se ç duhet "
        "blemë vezë domate dhe një thes oriz për javën\n"
        "të hënën në zyrë kishte shumë punë sepse projekti i ri kishte "
        "filluar dhe të gjithë donin të lexonin raportin para mbledhjes "
        "treni për në qytet ishte plot me njerëz me çanta dhe telefona "
        "nga dritarja dukeshin fabrikat urat dhe rreshtat e gjatë të "
        "shtëpive nën qiellin gri puna mbaroi vonë por rrugët ishin "
        "ende të ndritshme nga llambat dhe muzika nga dyert e hapura"
    ),
    # --- round-5 tranche 2: 16 further languages (af next to nl and gl
    # next to es/pt are deliberate Latin-script confusables; be/kk extend
    # Cyrillic next to ru/uk; az is a tr-confusable; mr/ne share Devanagari
    # with hi; gu/pa/kn/ml/si/am/km/lo/my add nine scripts) ---
    "af": (
        "die oggendlig versprei oor die dorpie en die kinders speel in "
        "die tuin terwyl hulle ma vars brood met botter en heuning bring "
        "die ou horlosie teen die muur hou aan om die ure te tel wat ons "
        "saam deurbring terwyl ons stories lees oor verre berge en oor "
        "die mense wat daar loop op soek na n stil plek\n"
        "by die mark verkoop die boere appels uie en kaas en die bakker "
        "verduidelik hoe lank die deeg moet rus voordat dit in die warm "
        "oond gaan sy sê dat goeie sop tyd sout en n bietjie geduld "
        "nodig het en dat n mens vis nooit langer as nodig moet kook nie "
        "ons het eiers tamaties en n sak rys vir die week gekoop\n"
        "maandag was dit besig op kantoor omdat die nuwe projek begin "
        "het en almal die verslag voor die vergadering wou lees die "
        "trein na die stad was vol mense met sakke en fone en deur die "
        "venster kon jy fabrieke brûe en lang rye huise onder n grys "
        "lug sien die werk het laat geëindig maar die strate was nog "
        "helder van die lampe en die musiek uit die oop deure"
    ),
    "gl": (
        "a luz da mañá esténdese sobre a aldea e os nenos xogan no "
        "xardín mentres a súa nai trae pan fresco con manteiga e mel o "
        "vello reloxo da parede segue a contar as horas que pasamos "
        "xuntos lendo historias sobre montañas afastadas e sobre a "
        "xente que camiña por elas buscando un lugar tranquilo\n"
        "no mercado os labregos venden mazás cebolas e queixo e o "
        "panadeiro explica canto tempo debe repousar a masa antes de "
        "entrar no forno quente ela di que unha boa sopa precisa tempo "
        "sal e un pouco de paciencia e que o peixe non se debe cocer "
        "máis do necesario mercamos ovos tomates e un saco de arroz "
        "para a semana\n"
        "o luns había moito traballo na oficina porque comezara o novo "
        "proxecto e todos querían ler o informe antes da xuntanza o "
        "tren á cidade ía cheo de xente con bolsas e teléfonos e pola "
        "fiestra víanse fábricas pontes e longas ringleiras de casas "
        "baixo un ceo gris o traballo rematou tarde pero as rúas aínda "
        "estaban claras coas lámpadas e a música das portas abertas"
    ),
    "be": (
        "ранішняе святло разліваецца над вёскай і дзеці гуляюць у садзе "
        "пакуль іх маці нясе свежы хлеб з маслам і мёдам стары гадзіннік "
        "на сцяне працягвае лічыць гадзіны якія мы праводзім разам "
        "чытаючы гісторыі пра далёкія горы і пра людзей якія ходзяць па "
        "іх шукаючы ціхае месца\n"
        "на кірмашы сяляне прадаюць яблыкі цыбулю і сыр а пекар "
        "тлумачыць колькі цеста мусіць адпачываць перш чым трапіць у "
        "гарачую печ яна кажа што добраму супу патрэбны час соль і "
        "крыху цярплівасці і што рыбу не трэба варыць даўжэй чым трэба "
        "мы купілі яйкі памідоры і мех рысу на тыдзень\n"
        "у панядзелак у канторы было шмат працы бо пачаўся новы праект "
        "і ўсе хацелі прачытаць справаздачу перад нарадай цягнік у "
        "горад быў поўны людзей з торбамі і тэлефонамі праз акно было "
        "відаць заводы масты і доўгія рады дамоў пад шэрым небам праца "
        "скончылася позна але вуліцы яшчэ былі светлыя ад ліхтароў і "
        "музыкі з адчыненых дзвярэй"
    ),
    "kk": (
        "таңғы жарық ауыл үстіне тарайды да балалар бақта ойнайды ал "
        "аналары май мен бал қосылған жаңа нан әкеледі қабырғадағы ескі "
        "сағат біз бірге өткізетін сағаттарды санай береді біз алыстағы "
        "таулар туралы және сол тауларда тыныш жер іздеп жүрген адамдар "
        "туралы әңгімелер оқимыз\n"
        "базарда шаруалар алма пияз және ірімшік сатады наубайшы қамыр "
        "ыстық пешке кірер алдында қанша уақыт тынығу керегін "
        "түсіндіреді ол жақсы сорпаға уақыт тұз және аздап шыдамдылық "
        "керек дейді балықты қажеттен артық пісірмеу керек біз жұмыртқа "
        "қызанақ және аптаға бір қап күріш сатып алдық\n"
        "дүйсенбіде кеңседе жұмыс көп болды өйткені жаңа жоба басталды "
        "және бәрі жиналыс алдында есепті оқығысы келді қалаға баратын "
        "пойыз сөмке мен телефон ұстаған адамдарға толы болды терезеден "
        "зауыттар көпірлер және сұр аспан астындағы ұзын үй қатарлары "
        "көрінді жұмыс кеш аяқталды бірақ көшелер әлі де шамдар мен "
        "ашық есіктерден шыққан музыкадан жарық болды"
    ),
    "az": (
        "səhər işığı kəndin üzərinə yayılır və uşaqlar bağda oynayır "
        "anaları isə yağ və bal ilə təzə çörək gətirir divardakı köhnə "
        "saat birlikdə keçirdiyimiz saatları saymağa davam edir biz uzaq "
        "dağlar haqqında və orada sakit yer axtararaq gəzən insanlar "
        "haqqında hekayələr oxuyuruq\n"
        "bazarda kəndlilər alma soğan və pendir satır çörəkçi xəmirin "
        "isti sobaya girməzdən əvvəl nə qədər dincəlməli olduğunu izah "
        "edir o deyir ki yaxşı şorbaya vaxt duz və bir az səbir lazımdır "
        "və balığı lazım olandan çox bişirmək olmaz biz yumurta pomidor "
        "və həftə üçün bir kisə düyü aldıq\n"
        "bazar ertəsi ofisdə çox iş var idi çünki yeni layihə başlamışdı "
        "və hamı iclasdan əvvəl hesabatı oxumaq istəyirdi şəhərə gedən "
        "qatar çanta və telefon tutan insanlarla dolu idi pəncərədən "
        "zavodlar körpülər və boz səma altında uzun ev cərgələri "
        "görünürdü iş gec bitdi amma küçələr hələ də lampalardan və "
        "açıq qapılardan gələn musiqidən işıqlı idi"
    ),
    "mr": (
        "सकाळचा प्रकाश गावावर पसरतो आणि मुले बागेत खेळतात तेव्हा त्यांची "
        "आई लोणी आणि मध घेऊन ताजी भाकरी आणते भिंतीवरचे जुने घड्याळ आपण "
        "एकत्र घालवलेले तास मोजत राहते आपण दूरच्या डोंगरांच्या गोष्टी "
        "वाचतो आणि तिथे शांत जागा शोधत चालणाऱ्या माणसांच्या गोष्टीही\n"
        "बाजारात शेतकरी सफरचंद कांदे आणि चीज विकतात आणि भटारी सांगतो की "
        "गरम भट्टीत जाण्यापूर्वी पीठ किती वेळ विसावले पाहिजे ती म्हणते "
        "चांगल्या आमटीला वेळ मीठ आणि थोडा धीर लागतो आणि मासा गरजेपेक्षा "
        "जास्त शिजवू नये आम्ही अंडी टोमॅटो आणि आठवड्यासाठी एक पोते "
        "तांदूळ विकत घेतले\n"
        "सोमवारी कार्यालयात खूप काम होते कारण नवीन प्रकल्प सुरू झाला "
        "होता आणि सर्वांना बैठकीपूर्वी अहवाल वाचायचा होता शहराकडे "
        "जाणारी रेल्वे पिशव्या आणि फोन घेतलेल्या लोकांनी भरली होती "
        "खिडकीतून कारखाने पूल आणि करड्या आकाशाखाली घरांच्या लांब रांगा "
        "दिसत होत्या काम उशिरा संपले पण रस्ते अजूनही दिव्यांनी आणि "
        "उघड्या दारांतून येणाऱ्या संगीताने उजळलेले होते"
    ),
    "ne": (
        "बिहानको उज्यालो गाउँमाथि फैलिन्छ र केटाकेटीहरू बगैंचामा "
        "खेल्छन् उनीहरूकी आमाले मक्खन र मह सहित ताजा रोटी ल्याउँछिन् "
        "भित्ताको पुरानो घडीले हामीले सँगै बिताएका घण्टाहरू गन्दै रहन्छ "
        "हामी टाढाका पहाडहरूका कथाहरू पढ्छौं र त्यहाँ शान्त ठाउँ "
        "खोज्दै हिँड्ने मानिसहरूका बारेमा पनि\n"
        "बजारमा किसानहरूले स्याउ प्याज र चीज बेच्छन् र रोटी बनाउनेले "
        "तातो चुलोमा जानुअघि पीठो कति बेर आराम गर्नुपर्छ भनेर बताउँछ "
        "उनी भन्छिन् राम्रो झोलको लागि समय नुन र अलिकति धैर्य चाहिन्छ "
        "र माछालाई चाहिनेभन्दा बढी पकाउनु हुँदैन हामीले अण्डा गोलभेंडा "
        "र हप्ताका लागि एक बोरा चामल किन्यौं\n"
        "सोमबार कार्यालयमा धेरै काम थियो किनभने नयाँ परियोजना सुरु "
        "भएको थियो र सबैले बैठकअघि प्रतिवेदन पढ्न चाहन्थे सहर जाने "
        "रेल झोला र फोन बोकेका मानिसहरूले भरिएको थियो झ्यालबाट "
        "कारखानाहरू पुलहरू र खैरो आकाशमुनि घरहरूका लामा लहरहरू "
        "देखिन्थे काम ढिलो सकियो तर सडकहरू अझै बत्तीहरूले र खुला "
        "ढोकाबाट आउने सङ्गीतले उज्याला थिए"
    ),
    "gu": (
        "સવારનો પ્રકાશ ગામ પર ફેલાય છે અને બાળકો બગીચામાં રમે છે "
        "ત્યારે તેમની મા માખણ અને મધ સાથે તાજી રોટલી લાવે છે દીવાલ "
        "પરની જૂની ઘડિયાળ આપણે સાથે વિતાવેલા કલાકો ગણતી રહે છે આપણે "
        "દૂરના પહાડોની વાર્તાઓ વાંચીએ છીએ અને ત્યાં શાંત જગ્યા શોધતા "
        "ચાલતા લોકોની વાતો પણ\n"
        "બજારમાં ખેડૂતો સફરજન ડુંગળી અને ચીઝ વેચે છે અને ભઠિયારો "
        "સમજાવે છે કે ગરમ ભઠ્ઠીમાં જતા પહેલા લોટે કેટલો સમય આરામ કરવો "
        "જોઈએ તે કહે છે કે સારા સૂપ માટે સમય મીઠું અને થોડી ધીરજ જોઈએ "
        "અને માછલીને જરૂર કરતાં વધારે રાંધવી ન જોઈએ અમે ઈંડાં ટામેટાં "
        "અને અઠવાડિયા માટે એક થેલી ચોખા ખરીદ્યા\n"
        "સોમવારે કચેરીમાં ઘણું કામ હતું કારણ કે નવો પ્રોજેક્ટ શરૂ થયો "
        "હતો અને બધા બેઠક પહેલા અહેવાલ વાંચવા માંગતા હતા શહેર જતી "
        "ટ્રેન થેલા અને ફોન લઈને ઊભેલા લોકોથી ભરેલી હતી બારીમાંથી "
        "કારખાનાં પુલ અને રાખોડી આકાશ નીચે ઘરોની લાંબી હાર દેખાતી "
        "હતી કામ મોડું પૂરું થયું પણ શેરીઓ હજુ દીવાઓથી અને ખુલ્લા "
        "બારણાંમાંથી આવતા સંગીતથી ઝળહળતી હતી"
    ),
    "pa": (
        "ਸਵੇਰ ਦੀ ਰੌਸ਼ਨੀ ਪਿੰਡ ਉੱਤੇ ਫੈਲਦੀ ਹੈ ਅਤੇ ਬੱਚੇ ਬਾਗ ਵਿੱਚ ਖੇਡਦੇ ਹਨ "
        "ਜਦੋਂ ਉਨ੍ਹਾਂ ਦੀ ਮਾਂ ਮੱਖਣ ਅਤੇ ਸ਼ਹਿਦ ਨਾਲ ਤਾਜ਼ੀ ਰੋਟੀ ਲਿਆਉਂਦੀ ਹੈ "
        "ਕੰਧ ਉੱਤੇ ਪੁਰਾਣੀ ਘੜੀ ਉਹ ਘੰਟੇ ਗਿਣਦੀ ਰਹਿੰਦੀ ਹੈ ਜੋ ਅਸੀਂ ਇਕੱਠੇ "
        "ਬਿਤਾਉਂਦੇ ਹਾਂ ਅਸੀਂ ਦੂਰ ਪਹਾੜਾਂ ਦੀਆਂ ਕਹਾਣੀਆਂ ਪੜ੍ਹਦੇ ਹਾਂ ਅਤੇ "
        "ਉੱਥੇ ਸ਼ਾਂਤ ਥਾਂ ਲੱਭਦੇ ਤੁਰਦੇ ਲੋਕਾਂ ਬਾਰੇ ਵੀ\n"
        "ਬਾਜ਼ਾਰ ਵਿੱਚ ਕਿਸਾਨ ਸੇਬ ਪਿਆਜ਼ ਅਤੇ ਪਨੀਰ ਵੇਚਦੇ ਹਨ ਅਤੇ ਲਾਂਗਰੀ "
        "ਦੱਸਦਾ ਹੈ ਕਿ ਗਰਮ ਤੰਦੂਰ ਵਿੱਚ ਜਾਣ ਤੋਂ ਪਹਿਲਾਂ ਆਟੇ ਨੂੰ ਕਿੰਨਾ ਸਮਾਂ "
        "ਆਰਾਮ ਕਰਨਾ ਚਾਹੀਦਾ ਹੈ ਉਹ ਕਹਿੰਦੀ ਹੈ ਕਿ ਚੰਗੇ ਸ਼ੋਰਬੇ ਲਈ ਸਮਾਂ ਲੂਣ "
        "ਅਤੇ ਥੋੜ੍ਹਾ ਸਬਰ ਚਾਹੀਦਾ ਹੈ ਅਤੇ ਮੱਛੀ ਨੂੰ ਲੋੜ ਤੋਂ ਵੱਧ ਨਹੀਂ "
        "ਪਕਾਉਣਾ ਚਾਹੀਦਾ ਅਸੀਂ ਆਂਡੇ ਟਮਾਟਰ ਅਤੇ ਹਫ਼ਤੇ ਲਈ ਇੱਕ ਬੋਰੀ ਚੌਲ "
        "ਖਰੀਦੇ\n"
        "ਸੋਮਵਾਰ ਨੂੰ ਦਫ਼ਤਰ ਵਿੱਚ ਬਹੁਤ ਕੰਮ ਸੀ ਕਿਉਂਕਿ ਨਵਾਂ ਪ੍ਰਾਜੈਕਟ ਸ਼ੁਰੂ "
        "ਹੋਇਆ ਸੀ ਅਤੇ ਸਾਰੇ ਮੀਟਿੰਗ ਤੋਂ ਪਹਿਲਾਂ ਰਿਪੋਰਟ ਪੜ੍ਹਨਾ ਚਾਹੁੰਦੇ ਸਨ "
        "ਸ਼ਹਿਰ ਜਾਣ ਵਾਲੀ ਰੇਲ ਝੋਲਿਆਂ ਅਤੇ ਫੋਨਾਂ ਵਾਲੇ ਲੋਕਾਂ ਨਾਲ ਭਰੀ ਹੋਈ "
        "ਸੀ ਖਿੜਕੀ ਵਿੱਚੋਂ ਕਾਰਖਾਨੇ ਪੁਲ ਅਤੇ ਸਲੇਟੀ ਅਸਮਾਨ ਹੇਠ ਘਰਾਂ ਦੀਆਂ "
        "ਲੰਮੀਆਂ ਕਤਾਰਾਂ ਦਿਸਦੀਆਂ ਸਨ ਕੰਮ ਦੇਰ ਨਾਲ ਮੁੱਕਿਆ ਪਰ ਗਲੀਆਂ ਅਜੇ "
        "ਵੀ ਦੀਵਿਆਂ ਅਤੇ ਖੁੱਲ੍ਹੇ ਦਰਵਾਜ਼ਿਆਂ ਦੇ ਸੰਗੀਤ ਨਾਲ ਰੌਸ਼ਨ ਸਨ"
    ),
    "kn": (
        "ಬೆಳಗಿನ ಬೆಳಕು ಹಳ್ಳಿಯ ಮೇಲೆ ಹರಡುತ್ತದೆ ಮಕ್ಕಳು ತೋಟದಲ್ಲಿ "
        "ಆಡುತ್ತಾರೆ ಅವರ ಅಮ್ಮ ಬೆಣ್ಣೆ ಮತ್ತು ಜೇನುತುಪ್ಪದೊಂದಿಗೆ ತಾಜಾ "
        "ರೊಟ್ಟಿ ತರುತ್ತಾಳೆ ಗೋಡೆಯ ಮೇಲಿನ ಹಳೆಯ ಗಡಿಯಾರ ನಾವು ಒಟ್ಟಿಗೆ "
        "ಕಳೆಯುವ ಗಂಟೆಗಳನ್ನು ಎಣಿಸುತ್ತಲೇ ಇರುತ್ತದೆ ದೂರದ ಬೆಟ್ಟಗಳ ಕಥೆಗಳನ್ನು "
        "ಓದುತ್ತೇವೆ ಅಲ್ಲಿ ನಡೆದು ಶಾಂತ ಸ್ಥಳ ಹುಡುಕುವ ಜನರ ಬಗ್ಗೆಯೂ\n"
        "ಸಂತೆಯಲ್ಲಿ ರೈತರು ಸೇಬು ಈರುಳ್ಳಿ ಮತ್ತು ಗಿಣ್ಣು ಮಾರುತ್ತಾರೆ "
        "ಬೇಕರಿಯವನು ಬಿಸಿ ಒಲೆಗೆ ಹೋಗುವ ಮೊದಲು ಹಿಟ್ಟು ಎಷ್ಟು ಹೊತ್ತು "
        "ವಿಶ್ರಾಂತಿ ಪಡೆಯಬೇಕು ಎಂದು ವಿವರಿಸುತ್ತಾನೆ ಒಳ್ಳೆಯ ಸಾರಿಗೆ ಸಮಯ "
        "ಉಪ್ಪು ಮತ್ತು ಸ್ವಲ್ಪ ತಾಳ್ಮೆ ಬೇಕು ಮೀನನ್ನು ಅಗತ್ಯಕ್ಕಿಂತ ಹೆಚ್ಚು "
        "ಬೇಯಿಸಬಾರದು ಎಂದು ಅವಳು ಹೇಳುತ್ತಾಳೆ ನಾವು ಮೊಟ್ಟೆ ಟೊಮೇಟೊ ಮತ್ತು "
        "ವಾರಕ್ಕೆ ಒಂದು ಚೀಲ ಅಕ್ಕಿ ಖರೀದಿಸಿದೆವು\n"
        "ಸೋಮವಾರ ಕಚೇರಿಯಲ್ಲಿ ತುಂಬಾ ಕೆಲಸವಿತ್ತು ಹೊಸ ಯೋಜನೆ ಆರಂಭವಾಗಿದ್ದರಿಂದ "
        "ಸಭೆಗೆ ಮೊದಲು ಎಲ್ಲರೂ ವರದಿಯನ್ನು ಓದಲು ಬಯಸಿದ್ದರು ನಗರಕ್ಕೆ ಹೋಗುವ "
        "ರೈಲು ಚೀಲ ಮತ್ತು ಫೋನ್ ಹಿಡಿದ ಜನರಿಂದ ತುಂಬಿತ್ತು ಕಿಟಕಿಯಿಂದ "
        "ಕಾರ್ಖಾನೆಗಳು ಸೇತುವೆಗಳು ಮತ್ತು ಬೂದು ಆಕಾಶದ ಕೆಳಗೆ ಮನೆಗಳ ಉದ್ದ "
        "ಸಾಲುಗಳು ಕಾಣುತ್ತಿದ್ದವು ಕೆಲಸ ತಡವಾಗಿ ಮುಗಿಯಿತು ಆದರೆ ಬೀದಿಗಳು "
        "ಇನ್ನೂ ದೀಪಗಳಿಂದ ಮತ್ತು ತೆರೆದ ಬಾಗಿಲುಗಳ ಸಂಗೀತದಿಂದ ಬೆಳಗುತ್ತಿದ್ದವು"
    ),
    "ml": (
        "പ്രഭാത വെളിച്ചം ഗ്രാമത്തിന് മേൽ പരക്കുന്നു കുട്ടികൾ "
        "തോട്ടത്തിൽ കളിക്കുന്നു അവരുടെ അമ്മ വെണ്ണയും തേനും ചേർത്ത് "
        "പുതിയ റൊട്ടി കൊണ്ടുവരുന്നു ചുമരിലെ പഴയ ഘടികാരം നാം ഒന്നിച്ചു "
        "ചെലവഴിക്കുന്ന മണിക്കൂറുകൾ എണ്ണിക്കൊണ്ടിരിക്കുന്നു ദൂരെയുള്ള "
        "മലകളെക്കുറിച്ചുള്ള കഥകൾ വായിക്കുന്നു അവിടെ നടന്ന് ശാന്തമായ "
        "സ്ഥലം തേടുന്ന മനുഷ്യരെക്കുറിച്ചും\n"
        "ചന്തയിൽ കർഷകർ ആപ്പിളും ഉള്ളിയും പാൽക്കട്ടിയും വിൽക്കുന്നു "
        "റൊട്ടിക്കാരൻ ചൂടുള്ള അടുപ്പിൽ പോകുന്നതിന് മുമ്പ് മാവ് എത്ര "
        "നേരം വിശ്രമിക്കണമെന്ന് വിശദീകരിക്കുന്നു നല്ല ചാറിന് സമയവും "
        "ഉപ്പും അല്പം ക്ഷമയും വേണമെന്നും മീൻ ആവശ്യത്തിലധികം "
        "വേവിക്കരുതെന്നും അവൾ പറയുന്നു ഞങ്ങൾ മുട്ടയും തക്കാളിയും "
        "ആഴ്ചയ്ക്കായി ഒരു ചാക്ക് അരിയും വാങ്ങി\n"
        "തിങ്കളാഴ്ച ഓഫീസിൽ വളരെ തിരക്കായിരുന്നു പുതിയ പദ്ധതി "
        "തുടങ്ങിയതിനാൽ യോഗത്തിന് മുമ്പ് എല്ലാവരും റിപ്പോർട്ട് വായിക്കാൻ "
        "ആഗ്രഹിച്ചു നഗരത്തിലേക്കുള്ള തീവണ്ടി സഞ്ചികളും ഫോണുകളും പിടിച്ച "
        "ആളുകളെക്കൊണ്ട് നിറഞ്ഞിരുന്നു ജനലിലൂടെ ഫാക്ടറികളും പാലങ്ങളും "
        "ചാര ആകാശത്തിന് കീഴെ വീടുകളുടെ നീണ്ട നിരകളും കാണാമായിരുന്നു "
        "ജോലി വൈകി തീർന്നു പക്ഷേ തെരുവുകൾ ഇപ്പോഴും വിളക്കുകളാലും "
        "തുറന്ന വാതിലുകളിൽ നിന്നുള്ള സംഗീതത്താലും പ്രകാശിച്ചിരുന്നു"
    ),
    "si": (
        "උදෑසන එළිය ගම මතට පැතිරෙයි ළමයි වත්තේ සෙල්ලම් කරති ඔවුන්ගේ "
        "අම්මා වෙඬරු සහ මී පැණි සමඟ අලුත් පාන් ගෙන එයි බිත්තියේ පරණ "
        "ඔරලෝසුව අප එකට ගත කරන පැය ගණන් කරමින් සිටියි අපි ඈත කඳුකරය "
        "ගැන කතා කියවමු එහි ඇවිදිමින් නිස්කලංක තැනක් සොයන මිනිසුන් "
        "ගැන ද\n"
        "වෙළඳපොළේ ගොවියෝ ඇපල් ලූනු සහ චීස් විකුණති බේකරිකරු උණුසුම් "
        "උඳුනට යාමට පෙර පිටි මොළය කොපමණ වේලාවක් විවේක ගත යුතුදැයි "
        "පැහැදිලි කරයි හොඳ සුප් එකකට කාලය ලුණු සහ ටිකක් ඉවසීම අවශ්‍ය "
        "බවත් මාළු අවශ්‍ය ප්‍රමාණයට වඩා තම්බන්න එපා බවත් ඇය කියයි අපි "
        "බිත්තර තක්කාලි සහ සතියට සහල් මල්ලක් මිලදී ගත්තෙමු\n"
        "සඳුදා කාර්යාලයේ වැඩ ගොඩක් තිබුණි අලුත් ව්‍යාපෘතිය ආරම්භ වූ "
        "නිසා රැස්වීමට පෙර සියලු දෙනා වාර්තාව කියවීමට කැමති වූහ නගරයට "
        "යන දුම්රිය බෑග් සහ දුරකථන ගත් මිනිසුන්ගෙන් පිරී තිබුණි "
        "ජනේලයෙන් කම්හල් පාලම් සහ අළු අහස යට නිවාසවල දිගු පේළි "
        "පෙනුණි වැඩ පමා වී අවසන් විය නමුත් වීදි තවමත් පහන් වලින් සහ "
        "විවෘත දොරවල්වලින් එන සංගීතයෙන් ආලෝකමත් විය"
    ),
    "am": (
        "የጠዋት ብርሃን በመንደሩ ላይ ይሰራጫል ልጆችም በአትክልቱ ውስጥ ይጫወታሉ እናታቸው "
        "ቅቤና ማር ያለው ትኩስ ዳቦ ታመጣለች በግድግዳው ላይ ያለው አሮጌ ሰዓት አብረን "
        "የምናሳልፋቸውን ሰዓታት መቁጠሩን ይቀጥላል ስለ ሩቅ ተራሮች ታሪኮችን እናነባለን "
        "በዚያም እየተራመዱ ጸጥ ያለ ቦታ ስለሚፈልጉ ሰዎችም\n"
        "በገበያው ውስጥ ገበሬዎች ፖም ሽንኩርትና አይብ ይሸጣሉ ዳቦ ጋጋሪው ሊጡ ወደ ሙቅ "
        "ምድጃ ከመግባቱ በፊት ምን ያህል ጊዜ ማረፍ እንዳለበት ያስረዳል ጥሩ ሾርባ ጊዜ "
        "ጨውና ትንሽ ትዕግስት እንደሚያስፈልገው ዓሣንም ከሚያስፈልገው በላይ ማብሰል "
        "እንደሌለበት ትናገራለች እንቁላል ቲማቲምና ለሳምንቱ አንድ ከረጢት ሩዝ ገዛን\n"
        "ሰኞ ቢሮ ውስጥ ብዙ ሥራ ነበር አዲሱ ፕሮጀክት ስለጀመረ ሁሉም ከስብሰባው በፊት "
        "ሪፖርቱን ማንበብ ፈለጉ ወደ ከተማ የሚሄደው ባቡር ቦርሳና ስልክ የያዙ ሰዎች ሞልቶ "
        "ነበር በመስኮቱ በኩል ፋብሪካዎች ድልድዮችና በግራጫ ሰማይ ስር ረጃጅም የቤቶች "
        "ረድፎች ይታዩ ነበር ሥራው ዘግይቶ አለቀ ግን መንገዶቹ አሁንም በመብራቶችና ከተከፈቱ "
        "በሮች በሚወጣ ሙዚቃ ብሩህ ነበሩ"
    ),
    "km": (
        "ពន្លឺពេលព្រឹករាលដាលលើភូមិ ហើយក្មេងៗលេងនៅក្នុងសួន "
        "ខណៈម្តាយរបស់ពួកគេយកនំប៉័ងថ្មីជាមួយប៊ឺនិងទឹកឃ្មុំមក "
        "នាឡិកាចាស់នៅលើជញ្ជាំងបន្តរាប់ម៉ោងដែលយើងចំណាយជាមួយគ្នា "
        "យើងអានរឿងអំពីភ្នំឆ្ងាយៗ "
        "និងអំពីមនុស្សដែលដើរនៅទីនោះស្វែងរកកន្លែងស្ងប់ស្ងាត់\n"
        "នៅផ្សារ កសិករលក់ផ្លែប៉ោម ខ្ទឹមបារាំង និងឈីស "
        "ហើយអ្នកដុតនំពន្យល់ថា "
        "ម្សៅត្រូវសម្រាកប៉ុន្មានមុនពេលចូលឡដុតក្តៅ នាងនិយាយថា "
        "ស៊ុបល្អត្រូវការពេលវេលា អំបិល និងការអត់ធ្មត់បន្តិច "
        "ហើយមិនគួរស្ងោរត្រីយូរជាងការចាំបាច់ទេ យើងបានទិញស៊ុត "
        "ប៉េងប៉ោះ និងអង្ករមួយបាវសម្រាប់មួយសប្តាហ៍\n"
        "ថ្ងៃចន្ទ ការិយាល័យមានការងារច្រើន "
        "ព្រោះគម្រោងថ្មីបានចាប់ផ្តើម "
        "ហើយគ្រប់គ្នាចង់អានរបាយការណ៍មុនកិច្ចប្រជុំ "
        "រថភ្លើងទៅទីក្រុងពេញដោយមនុស្សកាន់កាបូបនិងទូរស័ព្ទ "
        "តាមបង្អួចឃើញរោងចក្រ ស្ពាន "
        "និងជួរផ្ទះវែងៗក្រោមមេឃប្រផេះ ការងារចប់យឺត "
        "ប៉ុន្តែផ្លូវនៅតែភ្លឺដោយចង្កៀងនិងតន្ត្រីពីទ្វារបើកចំហ"
    ),
    "lo": (
        "ແສງຕອນເຊົ້າແຜ່ລາມໄປທົ່ວບ້ານ ແລະເດັກນ້ອຍຫຼິ້ນຢູ່ໃນສວນ "
        "ໃນຂະນະທີ່ແມ່ຂອງພວກເຂົາເອົາເຂົ້າຈີ່ໃໝ່ພ້ອມມັນເບີແລະນໍ້າເຜິ້ງມາ "
        "ໂມງເກົ່າຢູ່ເທິງຝາຍັງນັບຊົ່ວໂມງທີ່ພວກເຮົາໃຊ້ຮ່ວມກັນ "
        "ພວກເຮົາອ່ານເລື່ອງກ່ຽວກັບພູໄກໆ "
        "ແລະກ່ຽວກັບຄົນທີ່ຍ່າງຢູ່ທີ່ນັ້ນຊອກຫາບ່ອນງຽບສະຫງົບ\n"
        "ຢູ່ຕະຫຼາດ ຊາວນາຂາຍໝາກແອັບເປິ້ນ ຫົວຜັກບົ່ວ ແລະເນີຍແຂງ "
        "ຜູ້ອົບເຂົ້າຈີ່ອະທິບາຍວ່າແປ້ງຕ້ອງພັກດົນປານໃດກ່ອນເຂົ້າເຕົາອົບຮ້ອນ "
        "ລາວເວົ້າວ່າແກງດີຕ້ອງການເວລາ ເກືອ ແລະຄວາມອົດທົນໜ້ອຍໜຶ່ງ "
        "ແລະບໍ່ຄວນຕົ້ມປາດົນກວ່າທີ່ຈຳເປັນ ພວກເຮົາຊື້ໄຂ່ ໝາກເລັ່ນ "
        "ແລະເຂົ້າສານໜຶ່ງຖົງສຳລັບອາທິດ\n"
        "ວັນຈັນຢູ່ຫ້ອງການມີວຽກຫຼາຍ ເພາະໂຄງການໃໝ່ໄດ້ເລີ່ມຂຶ້ນ "
        "ແລະທຸກຄົນຢາກອ່ານບົດລາຍງານກ່ອນກອງປະຊຸມ "
        "ລົດໄຟໄປເມືອງເຕັມໄປດ້ວຍຄົນຖືຖົງແລະໂທລະສັບ "
        "ຜ່ານປ່ອງຢ້ຽມເຫັນໂຮງງານ ຂົວ "
        "ແລະແຖວເຮືອນຍາວໆໃຕ້ທ້ອງຟ້າສີເທົາ ວຽກເລີກຊ້າ "
        "ແຕ່ຖະໜົນຍັງສະຫວ່າງດ້ວຍໂຄມໄຟແລະສຽງດົນຕີຈາກປະຕູເປີດ"
    ),
    "my": (
        "မနက်အလင်းရောင်သည် ရွာပေါ်သို့ ဖြန့်ကျက်လာပြီး "
        "ကလေးများသည် ဥယျာဉ်ထဲတွင် ကစားကြသည် သူတို့၏အမေသည် "
        "ထောပတ်နှင့် ပျားရည်ပါသော ပေါင်မုန့်အသစ်ကို ယူလာသည် "
        "နံရံပေါ်ရှိ နာရီဟောင်းသည် ကျွန်ုပ်တို့အတူတူ "
        "ကုန်ဆုံးသောနာရီများကို ဆက်၍ရေတွက်နေသည် ဝေးလံသော "
        "တောင်များအကြောင်း ပုံပြင်များကို ဖတ်ကြပြီး ထိုနေရာတွင် "
        "လမ်းလျှောက်ရင်း တိတ်ဆိတ်သောနေရာကို ရှာဖွေသူများအကြောင်းလည်း\n"
        "ဈေးထဲတွင် လယ်သမားများသည် ပန်းသီး ကြက်သွန်နီနှင့် "
        "ဒိန်ခဲကို ရောင်းကြသည် မုန့်ဖုတ်သူက မုန့်ညက်သည် "
        "ပူသောမီးဖိုထဲ မဝင်မီ ဘယ်လောက်ကြာကြာ အနားယူရမည်ကို "
        "ရှင်းပြသည် ကောင်းသောဟင်းချိုအတွက် အချိန် ဆားနှင့် "
        "သည်းခံမှုအနည်းငယ် လိုအပ်ကြောင်း ငါးကို လိုအပ်သည်ထက် "
        "ပိုမချက်သင့်ကြောင်း သူမပြောသည် ကျွန်ုပ်တို့သည် ကြက်ဥ "
        "ခရမ်းချဉ်သီးနှင့် တစ်ပတ်စာ ဆန်တစ်အိတ် ဝယ်ခဲ့သည်\n"
        "တနင်္လာနေ့တွင် ရုံး၌ အလုပ်များသည် စီမံကိန်းအသစ် "
        "စတင်ခဲ့သောကြောင့် အစည်းအဝေးမတိုင်မီ လူတိုင်း "
        "အစီရင်ခံစာကို ဖတ်လိုကြသည် မြို့သို့သွားသော ရထားသည် "
        "အိတ်နှင့် ဖုန်းကိုင်ထားသူများဖြင့် ပြည့်နေသည် "
        "ပြတင်းပေါက်မှ စက်ရုံများ တံတားများနှင့် "
        "မီးခိုးရောင်ကောင်းကင်အောက်ရှိ အိမ်တန်းရှည်များကို "
        "မြင်ရသည် အလုပ်သည် နောက်ကျပြီးမှ ပြီးသည် သို့သော် "
        "လမ်းများသည် မီးအိမ်များနှင့် ပွင့်နေသောတံခါးများမှ "
        "တေးဂီတဖြင့် လင်းနေဆဲဖြစ်သည်"
    ),
    # --- round-5 tranche 3: 8 further languages, crossing the
    # reference's 70+ breadth (eu is a European isolate; cy/ga add
    # Celtic; mt is Semitic in Latin script; uz/mn extend Turkic/Mongolic
    # incl. another Cyrillic neighbor; tl adds Austronesian next to id;
    # ha adds Chadic) ---
    "eu": (
        "goizeko argia herriaren gainean zabaltzen da eta haurrak "
        "lorategian jolasten dira amak ogi freskoa gurinarekin eta "
        "eztiarekin dakarren bitartean hormako erloju zaharrak elkarrekin "
        "igarotzen ditugun orduak zenbatzen jarraitzen du urrutiko "
        "mendiei buruzko istorioak irakurtzen ditugu eta bertan leku "
        "lasai baten bila dabiltzan pertsonei buruzkoak ere\n"
        "azokan nekazariek sagarrak tipulak eta gazta saltzen dituzte "
        "eta okinak azaltzen du oreak zenbat denbora atseden hartu behar "
        "duen labe berora sartu baino lehen zopa on batek denbora gatza "
        "eta pazientzia pixka bat behar dituela dio eta arraina ez dela "
        "behar baino gehiago egosi behar arrautzak tomateak eta asterako "
        "arroz zaku bat erosi genituen\n"
        "astelehenean lan asko zegoen bulegoan proiektu berria hasi "
        "zelako eta denek txostena irakurri nahi zuten bilera baino "
        "lehen hirirako trena poltsak eta telefonoak zeramatzaten "
        "pertsonez beteta zegoen leihotik lantegiak zubiak eta etxe "
        "ilara luzeak ikusten ziren zeru grisaren azpian lana berandu "
        "amaitu zen baina kaleak oraindik argiz eta ate irekietako "
        "musikaz beteta zeuden"
    ),
    "cy": (
        "mae golau'r bore yn lledaenu dros y pentref ac mae'r plant yn "
        "chwarae yn yr ardd tra bo'u mam yn dod â bara ffres gyda menyn "
        "a mêl mae'r hen gloc ar y wal yn dal i gyfrif yr oriau rydym "
        "yn eu treulio gyda'n gilydd yn darllen straeon am fynyddoedd "
        "pell ac am y bobl sy'n cerdded drwyddynt yn chwilio am le "
        "tawel\n"
        "yn y farchnad mae'r ffermwyr yn gwerthu afalau nionod a chaws "
        "ac mae'r pobydd yn esbonio pa mor hir y dylai'r toes orffwys "
        "cyn mynd i'r popty poeth mae hi'n dweud bod angen amser halen "
        "ac ychydig o amynedd ar gawl da ac na ddylid coginio pysgod yn "
        "hirach nag sydd angen prynon ni wyau tomatos a sach o reis am "
        "yr wythnos\n"
        "roedd hi'n brysur yn y swyddfa ddydd llun oherwydd bod y "
        "prosiect newydd wedi dechrau ac roedd pawb eisiau darllen yr "
        "adroddiad cyn y cyfarfod roedd y trên i'r ddinas yn llawn o "
        "bobl gyda bagiau a ffonau a thrwy'r ffenestr gallech weld "
        "ffatrïoedd pontydd a rhesi hir o dai o dan awyr lwyd gorffennodd "
        "y gwaith yn hwyr ond roedd y strydoedd yn dal yn olau gyda "
        "lampau a cherddoriaeth o'r drysau agored"
    ),
    "ga": (
        "leathnaíonn solas na maidine thar an sráidbhaile agus bíonn na "
        "páistí ag súgradh sa ghairdín fad a thugann a máthair arán úr "
        "le him agus mil leéi coinníonn an seanchlog ar an mballa ag "
        "comhaireamh na n-uaireanta a chaithimid le chéile ag léamh "
        "scéalta faoi shléibhte i bhfad i gcéin agus faoi na daoine a "
        "shiúlann tríothu ag lorg áite ciúine\n"
        "ag an margadh díolann na feirmeoirí úlla oinniúin agus cáis "
        "agus míníonn an báicéir cá fhad a chaithfidh an taos "
        "scíth a ligean sula dtéann sé isteach san oigheann te deir sí "
        "go dteastaíonn am salann agus beagán foighne ó anraith maith "
        "agus nár cheart iasc a bhruith níos faide ná mar is gá "
        "cheannaíomar uibheacha trátaí agus mála ríse don tseachtain\n"
        "bhí an oifig gnóthach dé luain mar gur thosaigh an tionscadal "
        "nua agus theastaigh ó gach duine an tuarascáil a léamh roimh an "
        "gcruinniú bhí an traein go dtí an chathair lán de dhaoine le "
        "málaí agus fóin agus tríd an bhfuinneog d'fheicfeá monarchana "
        "droichid agus sraitheanna fada tithe faoi spéir liath chríochnaigh "
        "an obair go déanach ach bhí na sráideanna fós geal le lampaí "
        "agus ceol ó na doirse oscailte"
    ),
    "mt": (
        "id-dawl ta filgħodu jinfirex fuq ir-raħal u t-tfal jilagħbu "
        "fil-ġnien waqt li ommhom iġġib ħobż frisk bil-butir u l-għasel "
        "l-arloġġ il-qadim fuq il-ħajt jibqa jgħodd is-sigħat li "
        "inqattgħu flimkien naqraw stejjer dwar muntanji mbiegħda u dwar "
        "in-nies li jimxu fihom ifittxu post kwiet\n"
        "fis-suq il-bdiewa jbigħu tuffieħ basal u ġobon u l-furnar "
        "jispjega kemm għandha tistrieħ l-għaġina qabel ma tidħol "
        "fil-forn sħun hija tgħid li soppa tajba teħtieġ ħin melħ u "
        "ftit paċenzja u li l-ħut m'għandux jissajjar aktar milli hemm "
        "bżonn xtrajna bajd tadam u xkora ross għall-ġimgħa\n"
        "it-tnejn kien hemm ħafna xogħol fl-uffiċċju għax il-proġett "
        "il-ġdid kien beda u kulħadd ried jaqra r-rapport qabel "
        "il-laqgħa l-ferrovija lejn il-belt kienet mimlija nies "
        "bil-basktijiet u t-telefowns u mit-tieqa stajt tara fabbriki "
        "pontijiet u ringieli twal ta djar taħt sema griż ix-xogħol "
        "spiċċa tard imma t-toroq kienu għadhom imdawlin bil-lampi u "
        "bil-mużika mill-bibien miftuħa"
    ),
    "uz": (
        "tong yorug'i qishloq ustiga yoyiladi va bolalar bog'da "
        "o'ynaydilar onalari esa sariyog' va asal bilan yangi non olib "
        "keladi devordagi eski soat birga o'tkazadigan soatlarimizni "
        "sanashda davom etadi biz uzoq tog'lar haqida va u yerlarda "
        "tinch joy izlab yuradigan odamlar haqida hikoyalar o'qiymiz\n"
        "bozorda dehqonlar olma piyoz va pishloq sotadilar novvoy "
        "xamir issiq tandirga kirishidan oldin qancha dam olishi "
        "kerakligini tushuntiradi u yaxshi sho'rvaga vaqt tuz va ozgina "
        "sabr kerakligini aytadi baliqni keragidan ortiq pishirmaslik "
        "kerak biz tuxum pomidor va haftaga bir qop guruch sotib oldik\n"
        "dushanba kuni idorada ish ko'p edi chunki yangi loyiha "
        "boshlangan edi va hamma yig'ilishdan oldin hisobotni o'qishni "
        "xohlar edi shaharga boradigan poyezd sumka va telefon ushlagan "
        "odamlarga to'la edi derazadan zavodlar ko'priklar va kulrang "
        "osmon ostidagi uzun uy qatorlari ko'rinib turardi ish kech "
        "tugadi lekin ko'chalar hali ham chiroqlar va ochiq eshiklardan "
        "kelayotgan musiqa bilan yorug' edi"
    ),
    "mn": (
        "өглөөний гэрэл тосгон дээгүүр тархаж хүүхдүүд цэцэрлэгт "
        "тоглож байхад ээж нь цөцгийн тос зөгийн балтай шинэ талх "
        "авчирдаг хананд байгаа хуучин цаг бидний хамт өнгөрүүлдэг "
        "цагуудыг тоолсоор байдаг бид алс холын уулсын тухай түүхүүд "
        "уншиж тэнд алхаж нам гүм газар хайдаг хүмүүсийн тухай ч "
        "уншдаг\n"
        "зах дээр тариачид алим сонгино бяслаг зардаг талх нарийн "
        "боовны хүн зуурсан гурил халуун зууханд орохоосоо өмнө хэр "
        "удаан амрах ёстойг тайлбарладаг тэр сайн шөлөнд цаг хугацаа "
        "давс бага зэрэг тэвчээр хэрэгтэй гэж хэлдэг загасыг "
        "шаардлагатайгаас удаан чанаж болохгүй бид өндөг улаан лооль "
        "долоо хоногт зориулж нэг шуудай будаа худалдаж авсан\n"
        "даваа гарагт шинэ төсөл эхэлсэн болохоор оффис дээр ажил их "
        "байсан бүгд хурлаас өмнө тайланг уншихыг хүссэн хот руу явах "
        "галт тэрэг цүнх утас барьсан хүмүүсээр дүүрэн байсан цонхоор "
        "үйлдвэрүүд гүүрнүүд саарал тэнгэрийн доорх урт байшингийн "
        "эгнээ харагдаж байсан ажил оройтож дууссан ч гудамжууд гэрэл "
        "болон онгорхой хаалганаас гарах хөгжмөөр гэрэлтсээр байсан"
    ),
    "tl": (
        "kumakalat ang liwanag ng umaga sa nayon at naglalaro ang mga "
        "bata sa hardin habang nagdadala ang kanilang ina ng sariwang "
        "tinapay na may mantikilya at pulot patuloy na binibilang ng "
        "lumang orasan sa dingding ang mga oras na magkasama nating "
        "ginugugol nagbabasa tayo ng mga kuwento tungkol sa malalayong "
        "bundok at sa mga taong naglalakad doon na naghahanap ng "
        "tahimik na lugar\n"
        "sa palengke nagbebenta ang mga magsasaka ng mansanas sibuyas "
        "at keso at ipinapaliwanag ng panadero kung gaano katagal dapat "
        "magpahinga ang masa bago ito pumasok sa mainit na hurno sabi "
        "niya ang masarap na sabaw ay nangangailangan ng oras asin at "
        "kaunting pasensya at hindi dapat lutuin ang isda nang mas "
        "matagal kaysa kailangan bumili kami ng itlog kamatis at isang "
        "sako ng bigas para sa linggo\n"
        "maraming trabaho sa opisina noong lunes dahil nagsimula ang "
        "bagong proyekto at gusto ng lahat na basahin ang ulat bago ang "
        "pulong puno ang tren papuntang lungsod ng mga taong may dalang "
        "bag at telepono at mula sa bintana makikita ang mga pabrika "
        "tulay at mahahabang hanay ng bahay sa ilalim ng kulay abong "
        "langit natapos nang huli ang trabaho ngunit maliwanag pa rin "
        "ang mga kalye sa mga ilawan at musika mula sa mga bukas na "
        "pinto"
    ),
    "ha": (
        "hasken safiya yana yaduwa a kan kauye kuma yara suna wasa a "
        "cikin lambu yayin da mahaifiyarsu take kawo sabon burodi da man "
        "shanu da zuma tsohon agogo a jikin bango yana ci gaba da kirga "
        "sa'o'in da muke kashewa tare muna karanta labarai game da "
        "duwatsu masu nisa da kuma mutanen da suke tafiya cikinsu suna "
        "neman wuri mai natsuwa\n"
        "a kasuwa manoma suna sayar da tuffa da albasa da cuku kuma mai "
        "gashin burodi yana bayyana tsawon lokacin da ya kamata kullu ya "
        "huta kafin ya shiga tanda mai zafi ta ce miya mai kyau tana "
        "bukatar lokaci da gishiri da dan hakuri kuma kada a dafa kifi "
        "fiye da yadda ake bukata mun sayi kwai da tumatir da buhun "
        "shinkafa na mako\n"
        "ranar litinin an yi aiki sosai a ofis saboda sabon aikin ya "
        "fara kuma kowa yana son karanta rahoton kafin taron jirgin "
        "kasa zuwa birni ya cika da mutane dauke da jakunkuna da "
        "wayoyi ta taga ana ganin masana'antu da gadoji da dogayen "
        "layukan gidaje a karkashin sararin sama mai toka aikin ya "
        "kare a makare amma titunan suna nan da haske da fitilu da "
        "kidan da ke fitowa daga bududdun kofofi"
    ),
}

_NORM_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def _normalize(text: str) -> str:
    """Lowercase, letters only, single spaces — the role of the reference's
    CharSequenceNormalizer chain."""
    return " ".join(_NORM_RE.findall(text.lower()))


def _ngrams(text: str, n_min: int = 1, n_max: int = 3):
    """Char 1..3-grams over the normalized text; pure-space grams skipped
    (ProbingLanguageDetector skips SPACE)."""
    ln = len(text)
    for i in range(ln):
        for n in range(n_min, n_max + 1):
            if i + n > ln:
                break
            g = text[i : i + n]
            if g.isspace():
                continue
            yield g


def build_profiles(
    samples: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Per-language add-one-smoothed log-prob tables over char 1–3 grams."""
    samples = samples or LANG_SAMPLES
    profiles = {}
    vocab: set[str] = set()
    counts_by_lang = {}
    for lang, text in samples.items():
        c = Counter(_ngrams(_normalize(text)))
        counts_by_lang[lang] = c
        vocab.update(c)
    v = len(vocab) + 1
    for lang, c in counts_by_lang.items():
        total = sum(c.values())
        profiles[lang] = {
            "logp": {g: math.log((k + 1) / (total + v)) for g, k in c.items()},
            "default": math.log(1.0 / (total + v)),
        }
    return profiles


_PROFILES = build_profiles()


# softmax evidence window: the per-gram average log-likelihood is scaled by
# min(total_grams, EVIDENCE_CAP) before the softmax. Uncapped totals make
# confidences one-hot regardless of margin; fully-normalized scores are so
# flat the 0.20 early-stop gap can never be reached. 64 grams of effective
# evidence gives maxent-like peaky confidences on unambiguous text while
# keeping short/ambiguous inputs soft.
EVIDENCE_CAP = 64


def _predict(gram_counts: Counter, profiles: dict) -> list[tuple[str, float]]:
    """Rank languages by softmax of evidence-scaled average log-likelihood
    (the analogue of ``predict()``'s maxent eval + sort)."""
    total = sum(gram_counts.values()) or 1
    scale = min(total, EVIDENCE_CAP)
    scores = {}
    for lang, prof in profiles.items():
        logp, default = prof["logp"], prof["default"]
        s = 0.0
        for g, k in gram_counts.items():
            s += k * logp.get(g, default)
        scores[lang] = s / total * scale
    m = max(scores.values())
    exps = {lang: math.exp(s - m) for lang, s in scores.items()}
    z = sum(exps.values())
    ranked = sorted(
        ((lang, e / z) for lang, e in exps.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return ranked


def _seen_enough(history: list, min_consec: int, min_diff: float) -> bool:
    """Early-stop rule: same best language with non-decreasing confidence
    over the last ``min_consec`` probes, and best-second gap ≥ min_diff."""
    if len(history) < min_consec + 1:
        return False
    recent = history[-(min_consec + 1):]
    best_langs = {p[0][0] for p in recent}
    if len(best_langs) != 1:
        return False
    confs = [p[0][1] for p in recent]
    if any(b < a for a, b in zip(confs, confs[1:])):
        return False
    last = recent[-1]
    gap = last[0][1] - (last[1][1] if len(last) > 1 else 0.0)
    return gap >= min_diff


def detect_languages(
    text: str | None,
    profiles: dict | None = None,
    chunk_size: int = CHUNK_SIZE,
    max_length: int = MAX_LENGTH,
    min_consec: int = MIN_CONSEC_IMPROVEMENTS,
    min_diff: float = MIN_DIFF,
    probe_every: int = PROBE_EVERY,
) -> list[tuple[str, float]]:
    """The probing loop (predictLanguages): chunk → accumulate grams →
    probe every ``probe_every`` grams → early stop or run to max_length."""
    profiles = profiles or _PROFILES
    if not isinstance(text, str) or not text:
        return [("und", 0.0)]
    norm = _normalize(text[:max_length])
    if not norm:
        return [("und", 0.0)]

    gram_counts: Counter = Counter()
    history: list = []
    n_grams = 0
    current = None
    start = 0
    while start < len(norm):
        chunk = norm[start : start + chunk_size]
        start += chunk_size
        for g in _ngrams(chunk):
            gram_counts[g] += 1
            n_grams += 1
            if n_grams % probe_every == 0:
                current = _predict(gram_counts, profiles)
                history.append(current)
                if _seen_enough(history, min_consec, min_diff):
                    return current
    return current if current is not None else _predict(gram_counts, profiles)


RESULT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("lang", T.StringType(), False),
            T.StructField("conf", T.DoubleType(), False),
        ]
    )
)


# ---------------------------------------------------------------------------
# vectorized scorer — same semantics, numpy hot path
#
# The pure-Python probing loop above is the SPECIFICATION (and what the
# equality test pins against); this is the production scorer the Spark
# surface uses. Per probe, the reference's per-language dict-sum over all
# distinct grams (|grams| × 64 lookups, re-done every probe) becomes one
# 110×64 gather-sum into a running score vector — ~100× less work per
# probe on long documents, with identical probing points, early-stop rule,
# tie-breaks, and the last-probe return contract.
# ---------------------------------------------------------------------------
_FAST_TABLES = None


def _fast_tables():
    global _FAST_TABLES
    if _FAST_TABLES is None:
        import numpy as np

        langs = list(_PROFILES)
        vocab: dict[str, int] = {}
        for prof in _PROFILES.values():
            for g in prof["logp"]:
                if g not in vocab:
                    vocab[g] = len(vocab)
        v_n, l_n = len(vocab), len(langs)
        mat = np.empty((v_n + 1, l_n), dtype=np.float64)  # row v_n = OOV
        for li, lang in enumerate(langs):
            prof = _PROFILES[lang]
            mat[:, li] = prof["default"]
            for g, lp in prof["logp"].items():
                mat[vocab[g], li] = lp
        # alphabetical rank per column for the (-conf, lang) tie-break
        alpha_rank = np.argsort(np.argsort(np.array(langs)))
        _FAST_TABLES = (langs, vocab, mat, alpha_rank)
    return _FAST_TABLES


def _fast_rank(scores, langs, alpha_rank):
    """softmax + (-conf, lang) ordering — numpy twin of _predict's tail."""
    import numpy as np

    m = scores.max()
    exps = np.exp(scores - m)
    confs = exps / exps.sum()
    order = np.lexsort((alpha_rank, -confs))
    return [(langs[i], float(confs[i])) for i in order]


def detect_languages_fast(
    text: str | None,
    chunk_size: int = CHUNK_SIZE,
    max_length: int = MAX_LENGTH,
    min_consec: int = MIN_CONSEC_IMPROVEMENTS,
    min_diff: float = MIN_DIFF,
    probe_every: int = PROBE_EVERY,
) -> list[tuple[str, float]]:
    """Numpy implementation of :func:`detect_languages` — byte-identical
    decisions (equality-pinned in tests) at ~10-100x the throughput on
    long documents."""
    import numpy as np

    if not isinstance(text, str) or not text:
        return [("und", 0.0)]
    norm = _normalize(text[:max_length])
    if not norm:
        return [("und", 0.0)]
    langs, vocab, mat, alpha_rank = _fast_tables()
    oov = len(vocab)

    # stream gram indices LAZILY in the reference loop's exact order
    # (grams never cross the 300-codepoint chunk boundary), scoring one
    # probe_every-sized block per probe — early stop skips the rest of
    # the document's gram generation entirely, like the reference.
    scores = np.zeros(len(langs), dtype=np.float64)
    history: list = []
    buf: list[int] = []
    get = vocab.get
    append = buf.append
    n_done = 0
    current = None
    for start in range(0, len(norm), chunk_size):
        chunk = norm[start : start + chunk_size]
        for g in _ngrams(chunk):
            append(get(g, oov))
            if len(buf) == probe_every:
                scores += mat[np.asarray(buf, dtype=np.int64)].sum(axis=0)
                n_done += probe_every
                buf.clear()
                scale = min(n_done, EVIDENCE_CAP)
                current = _fast_rank(
                    scores / n_done * scale, langs, alpha_rank
                )
                history.append(current)
                if _seen_enough(history, min_consec, min_diff):
                    return current
    if current is not None:
        # reference contract: tail grams past the last probe never rescore
        return current
    if not buf:
        return [("und", 0.0)]
    scores += mat[np.asarray(buf, dtype=np.int64)].sum(axis=0)
    n = len(buf)
    return _fast_rank(scores / n * min(n, EVIDENCE_CAP), langs, alpha_rank)


def detect_languages_df(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """Vectorized Spark surface: (id, langs array<struct<lang,conf>>).

    mapInArrow so the vocab/matrix tables are built once per worker, not
    per row; per row the numpy probing scorer (detect_languages_fast,
    equality-pinned to the pure-Python spec, ~19x on the synthetic
    corpus) — the 100 TB cost model is identical to the extraction
    kernel's."""

    def batch(it):
        _fast_tables()  # build once per worker before the row loop
        for rb in it:
            # dedup-compute-scatter: detection is a pure function of the
            # text, so score each DISTINCT text once per batch and fan the
            # results back out. Real corpora carry exact-duplicate rows
            # (the dedup operators exist because of them) and planted
            # fixtures are heavily repetitive; for all-unique batches the
            # encoding costs little next to a ~300 us/row kernel.
            enc = pc.dictionary_encode(rb.column(1), null_encoding="encode")
            per_uniq = []
            for t in enc.dictionary.to_pylist():
                ranked = detect_languages_fast(t)[:top_k]
                per_uniq.append(
                    [{"lang": lang, "conf": round(conf, 6)} for lang, conf in ranked]
                )
            langs = pa.array(per_uniq, arrow_schema.field(1).type).take(enc.indices)
            yield pa.RecordBatch.from_arrays([rb.column(0), langs], schema=arrow_schema)

    schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("langs", RESULT_TYPE, False),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(id_col, text_col).mapInArrow(batch, schema=schema)
